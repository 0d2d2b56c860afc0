"""Wave-47 laws (round 12): the semantic screen's streaming deployment
form — the pure-map probe (semantic_screen_events_map) is bit-equal to
the batch window form on the fixture, its fail-loud guards, and the
streaming semantic gate's plan pins (NO window anywhere in the stream
DAG, exactly ONE stateful operator) — plus the ADVICE r11 review-fix
guards: checked_bigint passes NULL through as NULL, and the sim's
chunked runner selects children by exact name (a nested registered
name must not run in two children)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(not os.path.isdir(SF), reason="no testdata")


# --------------------------------------------------------------------------
# Streaming semantic screen (q_stream_semantic_gate_parity, VERDICT r11 #1)
# --------------------------------------------------------------------------


def test_semantic_map_equals_window(spark):
    """The row's core law: the pure-map probe (literal centers,
    array_sort by (sim desc, cell asc) + slice) emits EXACTLY the
    window form's events — same pairs, same cosines — on the fixture
    index. The sorted-prefix ≡ ROW_NUMBER claim, end-to-end through
    candidate fetch and verify. The window-rank reference is built
    INLINE here (the crossJoin(broadcast(centers)) + per-arrival
    ROW_NUMBER the batch operator used before optimization round 12
    delegated it to the map fold) so the law stays pinned against an
    independent implementation, not the operator against itself."""
    from pyspark.sql import Window

    from incubator_flink_old_spark.operators.similarity import (
        as_double_array,
        cosine_safe,
        grid_ivf,
        semantic_screen_events_map,
    )
    from incubator_flink_old_spark.queries._util import t

    emb = t(spark, SF, "embeddings")
    new_v = F.col("vec_id") % 5 == 4
    new, corpus = emb.filter(new_v), emb.filter(~new_v)
    cells, centers = grid_ivf(corpus, n_cells=8, iters=2)
    grid = 1_000_000.0
    quant = lambda c: F.transform(  # noqa: E731
        as_double_array(c), lambda x: F.floor(x * F.lit(grid)).cast("long")
    )
    qg = new.select(F.col("vec_id").alias("doc_a"), quant("embedding").alias("qk"))
    probes = (
        qg.crossJoin(F.broadcast(centers))
        .select(
            "doc_a",
            "qk",
            "cell",
            cosine_safe(as_double_array("qk"), as_double_array("cv")).alias("__sim"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_a").orderBy(F.col("__sim").desc(), "cell")
            ),
        )
        .filter(F.col("rn") <= 3)
        .select("doc_a", "qk", "cell")
    )
    eg = corpus.select(
        F.col("vec_id").alias("doc_b"), quant("embedding").alias("ck")
    )
    w = (
        probes.join(cells.select(F.col("vec_id").alias("doc_b"), "cell"), on="cell")
        .join(eg, on="doc_b")
        .select(
            "doc_a",
            "doc_b",
            cosine_safe(as_double_array("qk"), as_double_array("ck")).alias("cos"),
        )
        .filter((F.col("cos") >= 0.40) & (F.col("doc_a") != F.col("doc_b")))
    )
    m = semantic_screen_events_map(
        new, centers.collect(), cells, corpus, n_probe=3, threshold=0.40
    )
    key = lambda r: (r.doc_a, r.doc_b, round(r.cos, 12))  # noqa: E731
    wr = sorted(map(key, w.collect()))
    mr = sorted(map(key, m.collect()))
    assert wr == mr and len(wr) > 0


def test_semantic_map_probe_overflow_and_tie_break(spark):
    """Edge laws of the map probe: n_probe > n_cells degrades to
    all-cells (slice past the end is the available prefix — matching
    the window form's rn ≤ n_probe), and an exact similarity TIE keeps
    the SMALLER cell first (the (sim desc, cell asc) order) — pinned on
    a crafted two-center index where both centers are equidistant from
    the query."""
    from incubator_flink_old_spark.operators.similarity import (
        semantic_screen_events_map,
    )

    # Two centers symmetric about the query: cos(q, c1) == cos(q, c2).
    centers = spark.createDataFrame(
        [(1, [1000000, 0]), (2, [0, 1000000])], "cell int, cv array<long>"
    ).collect()
    cells = spark.createDataFrame(
        [(101, 1), (202, 2)], "vec_id long, cell int"
    )
    cemb = spark.createDataFrame(
        [(101, [1.0, 0.0]), (202, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    q = spark.createDataFrame(
        [(9, [1.0, 1.0])], "vec_id long, embedding array<float>"
    )
    # n_probe=1: the tie must resolve to cell 1 → only 101 verified.
    one = semantic_screen_events_map(
        q, centers, cells, cemb, n_probe=1, threshold=0.1
    ).collect()
    assert [(r.doc_a, r.doc_b) for r in one] == [(9, 101)]
    # n_probe=5 > n_cells=2: all cells probed, both partners emit.
    allp = semantic_screen_events_map(
        q, centers, cells, cemb, n_probe=5, threshold=0.1
    ).collect()
    assert sorted((r.doc_a, r.doc_b) for r in allp) == [(9, 101), (9, 202)]


def test_semantic_map_empty_centers_raises(spark):
    """An empty literal index must fail loudly (an unscreened front
    door admits semantic duplicates) — the grid_assign_map guard."""
    from incubator_flink_old_spark.operators.similarity import (
        semantic_screen_events_map,
    )

    df = spark.createDataFrame(
        [(1, [1.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="centers_rows is empty"):
        semantic_screen_events_map(df, [], df.select("vec_id"), df)


def test_stream_semantic_gate_no_window_one_state(spark):
    """Plan pins for the streaming semantic gate (VERDICT r11 item 1's
    'done' criterion): the streaming DAG contains NO window operator
    (the batch probe's ROW_NUMBER rank is replaced by the pure-map
    array_sort — a Window node would make the plan stream-illegal or
    smuggle a per-key shuffle in), and the executed query runs exactly
    ONE stateful operator (the gate's single existence-MAX fold) while
    emitting verdicts equal to the batch gate's."""
    import datetime

    from incubator_flink_old_spark.operators.similarity import (
        grid_ivf,
        semantic_screen_events_map,
    )
    from incubator_flink_old_spark.operators.text import (
        streaming_ingest_gate,
    )
    from incubator_flink_old_spark.queries._util import t
    from incubator_flink_old_spark.sources import local_rows
    from incubator_flink_old_spark.streaming import (
        replay_source,
        run_stream_to_memory,
    )

    docs = t(spark, SF, "documents")
    emb = t(spark, SF, "embeddings")
    new_d = F.col("doc_id") % 5 == 4
    new_v = F.col("vec_id") % 5 == 4
    corpus = docs.filter(~new_d)
    corpus_emb = emb.filter(~new_v).select("vec_id", "embedding")
    cells, centers = grid_ivf(corpus_emb, n_cells=8, iters=2)
    # Materialize the index the way production serves it — a STANDING
    # artifact read from storage, not an inline re-train (the train's
    # own ROW_NUMBER windows are batch-side and legal, but the strongest
    # pin is a DAG with no Window node at all).
    cells = cells.localCheckpoint(eager=True)
    centers_rows = centers.collect()
    nemb = emb.filter(new_v).select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )

    stream_src = docs.filter(new_d).select(
        "doc_id",
        "text",
        "lang",
        F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id")).alias("ts"),
    )
    mx = stream_src.agg(F.max("ts")).collect()[0][0]
    sentinel = local_rows(
        spark,
        [(-1, "the of and to a", "en", mx + datetime.timedelta(hours=1))],
        stream_src.schema,
    )
    with replay_source([stream_src.coalesce(1), sentinel]) as stream:
        sem = semantic_screen_events_map(
            stream.select(F.col("doc_id").alias("vec_id"), "ts").join(
                nemb.select(F.col("doc_id").alias("vec_id"), "embedding"),
                on="vec_id",
            ),
            centers_rows,
            cells,
            corpus_emb,
            n_probe=3,
            threshold=0.40,
            carry=("ts",),
        ).select("doc_a", "ts")
        out = streaming_ingest_gate(
            stream,
            corpus,
            langs=("en", "de", "fr"),
            num_hashes=8,
            band_size=4,
            jaccard_threshold=0.7,
            screens=("neardup",),
            extra_screens={"semdup": sem},
            event_time="ts",
            watermark_delay="30 seconds",
        )
        # Plan pin 1 (walked structurally, not string-matched). The
        # load-bearing half: no Window node on ANY streaming subtree —
        # asserted FIRST so it stands on its own if the stricter pin below
        # is ever relaxed (review finding: filtering the already-empty
        # window list was dead code).
        analyzed = out._jdf.queryExecution().analyzed()

        def walk(node):
            yield node
            for i in range(node.children().size()):
                yield from walk(node.children().apply(i))

        windows = [n for n in walk(analyzed) if n.nodeName() == "Window"]
        streaming_windows = [n for n in windows if n.isStreaming()]
        assert not streaming_windows, [str(n) for n in streaming_windows]
        # The stricter pin for THIS fixture: the standing index is a
        # materialized artifact, so even batch-side train windows are out.
        assert not windows, [str(n) for n in windows]

        name = "t47_semgate"
        q = run_stream_to_memory(out, name, "append", state_partitions=None)
        # Plan pin 2: exactly ONE stateful operator executed.
        assert len(q.lastProgress["stateOperators"]) == 1

    got = {
        r["doc_id"]: tuple(r)[1:]
        for r in spark.table(name).filter(F.col("doc_id") >= 0).collect()
    }
    from incubator_flink_old_spark.operators.similarity import (
        semantic_screen_events,
    )

    sem_b = semantic_screen_events(
        emb.filter(new_v),
        emb.filter(~new_v),
        n_cells=8,
        iters=2,
        n_probe=3,
        threshold=0.40,
    ).select("doc_a")
    batch = {
        r["doc_id"]: tuple(r)[1:]
        for r in streaming_ingest_gate(
            docs.filter(new_d).select("doc_id", "text", "lang"),
            corpus,
            langs=("en", "de", "fr"),
            num_hashes=8,
            band_size=4,
            jaccard_threshold=0.7,
            screens=("neardup",),
            extra_screens={"semdup": sem_b},
        ).collect()
    }
    assert got == batch and len(got) > 0


# --------------------------------------------------------------------------
# ADVICE r11 review-fix guards
# --------------------------------------------------------------------------


def test_checked_bigint_null_passthrough(spark):
    """A NULL input passes through as NULL — not misreported as
    overflow (ADVICE r11: fits evaluated NULL and assert_true(NULL)
    threw)."""
    from incubator_flink_old_spark.operators.joins import checked_bigint

    out = spark.range(1).select(
        checked_bigint(
            F.lit(None).cast("decimal(38,0)"), "boom"
        ).alias("v")
    )
    assert out.collect()[0]["v"] is None


def test_sim_chunk_selection_exact(monkeypatch):
    """The chunked sim selects children by EXACT name (SIM_EXACT):
    a registered name nested inside another (q_x substring of q_x_more)
    must select only itself — the substring scheme double-ran it
    (ADVICE r11)."""
    import importlib
    import sys

    sys.path.insert(0, "/root/repo/tools")
    driver_sim = importlib.import_module("driver_sim")

    # q_tpch_q1 is a true PREFIX of q_tpch_q10..q_tpch_q19 — under
    # substring selection it would match all of them (review finding:
    # the first draft used a pair that was not actually nested, making
    # the guard vacuous).
    monkeypatch.setenv("SIM_EXACT", "q_tpch_q1")
    monkeypatch.delenv("SIM_ONLY", raising=False)
    monkeypatch.delenv("SIM_SKIP", raising=False)
    names, stream, rest = driver_sim._selected_names()
    selected = stream + rest
    assert selected == ["q_tpch_q1"]
    # the nested siblings are registered (the premise of the guard)
    # but NOT selected
    assert "q_tpch_q10" in names and "q_tpch_q19" in names


# --------------------------------------------------------------------------
# Semantic-tier absorption (q_semantic_absorb_parity, VERDICT r11 #2)
# --------------------------------------------------------------------------


def test_semantic_absorption_changes_verdict(spark):
    """The absorption law on a crafted fixture: a wave-2 paraphrase of
    a wave-1 ADMIT is invisible to the frozen standing index but
    caught by the absorbed one — the verdict flip comes from exactly
    the rows grid_assign_map appended (frozen centers, no re-train)."""
    from incubator_flink_old_spark.operators.similarity import (
        grid_assign_map,
        grid_ivf,
        semantic_screen_events,
    )

    dim = 4
    base = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
    ]
    admit = (10, [0.0, 0.0, 1.0, 0.0])       # wave-1 admit: new direction
    probe = (20, [0.0, 0.0, 0.99, 0.01])     # wave-2 paraphrase of 10
    schema = "vec_id long, embedding array<float>"
    corpus0 = spark.createDataFrame(base, schema)
    w1 = spark.createDataFrame([admit], schema)
    w2 = spark.createDataFrame([probe], schema)
    cells0, centers = grid_ivf(corpus0, n_cells=2, iters=1)

    frozen = semantic_screen_events(
        w2, corpus0, n_probe=2, threshold=0.9, index=(cells0, centers)
    ).collect()
    assert frozen == []  # the paraphrase's partner is not in the corpus

    cells1 = cells0.unionByName(grid_assign_map(w1, centers.collect()))
    emb1 = corpus0.unionByName(w1)
    absorbed = semantic_screen_events(
        w2, emb1, n_probe=2, threshold=0.9, index=(cells1, centers)
    ).collect()
    assert [(r.doc_a, r.doc_b) for r in absorbed] == [(20, 10)]


def test_semantic_absorb_plan_no_retrain_reads_cached_index(spark):
    """The 100 TB claim on the plan: wave 2's screen over the absorbed
    index never re-trains (no Lloyd signature — the train's posexplode
    — anywhere in the optimized plan) and serves the standing index
    from cache (InMemoryRelations for the pinned cells + vectors); the
    only non-cached work is the O(wave) delta assignment."""
    from pyspark.storagelevel import StorageLevel

    from incubator_flink_old_spark.operators.similarity import (
        grid_assign_map,
        grid_ivf,
        semantic_screen_events,
    )
    from incubator_flink_old_spark.queries._util import t

    emb = t(spark, SF, "embeddings")
    m5 = F.col("vec_id") % 5
    corpus0 = emb.filter(m5 <= 2).select("vec_id", "embedding")
    w1 = emb.filter(m5 == 3).select("vec_id", "embedding")
    w2 = emb.filter(m5 == 4).select("vec_id", "embedding")
    cells0, centers = grid_ivf(corpus0, n_cells=8, iters=2)
    pinned = [
        f.persist(StorageLevel.DISK_ONLY) for f in (cells0, corpus0)
    ]
    cells0, corpus0 = pinned
    try:
        cells0.count(), corpus0.count()  # materialize the pins
        cells1 = cells0.unionByName(grid_assign_map(w1, centers.collect()))
        sem2 = semantic_screen_events(
            w2,
            corpus0.unionByName(w1),
            n_probe=3,
            threshold=0.4,
            index=(cells1, centers),
        )
        plan = sem2._jdf.queryExecution().optimizedPlan().toString()
        assert "posexplode" not in plan  # no Lloyd re-train in the DAG
        assert plan.count("InMemoryRelation") >= 2
        assert "CartesianProduct" not in plan
        assert sem2.count() > 0
    finally:
        for f in pinned:
            f.unpersist()


# --------------------------------------------------------------------------
# Mega-source calibration skew path (VERDICT r11 #3)
# --------------------------------------------------------------------------


def test_quality_calibrate_skew_safe_equals_window(spark):
    """The two-level ≡ single-window law on the fixture: skew_safe
    recomposes percent_rank as (rank−1)/(n−1) from the range-
    partitioned two-level rank — bit-identical output (same doubles,
    same keep verdicts), so flipping the mode can never flip a keep
    boundary."""
    from incubator_flink_old_spark.operators.text import quality_calibrate
    from incubator_flink_old_spark.queries._util import t

    docs = t(spark, SF, "documents")
    key = lambda r: (r.doc_id, r.source, r.quality, r.src_pct, r.keep)  # noqa: E731
    plain = sorted(map(key, quality_calibrate(docs).collect()))
    safe = sorted(
        map(key, quality_calibrate(docs, skew_safe=True).collect())
    )
    assert plain == safe and len(plain) > 0


def test_quality_calibrate_skew_safe_null_edges(spark):
    """Edge parity on a crafted fixture the testdata cannot produce:
    a NULL source (one rank group under the window form — the offsets
    join must match it null-safely), a zero-token document (NULL
    quality, sorted last), and a single-document source (percent_rank
    = 0.0 on both paths, never 0/0)."""
    from incubator_flink_old_spark.operators.text import quality_calibrate

    rows = [
        (1, "the a of and to common words here", "s0"),
        (2, "unique tokens entirely here now yes", "s0"),
        (3, "", "s0"),                      # zero tokens -> NULL quality
        (4, "the of and to a blah blah", None),   # NULL source
        (5, "other null source words here", None),
        (6, "lone document in its source", "s9"),  # n = 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    key = lambda r: (r.doc_id, r.source, r.quality, r.src_pct, r.keep)  # noqa: E731
    plain = sorted(map(key, quality_calibrate(df).collect()), key=repr)
    safe = sorted(
        map(key, quality_calibrate(df, skew_safe=True).collect()), key=repr
    )
    assert plain == safe and len(plain) == 6
    lone = next(r for r in safe if r[0] == 6)
    assert lone[3] == 0.0 and lone[4] is True


def test_quality_calibrate_skew_safe_plan_no_per_source_window(spark):
    """The skew pin: the skew_safe plan contains NO window operator at
    all downstream (the two-level rank runs keyed on (physical
    partition, source) against a range layout and is materialized —
    no Window.partitionBy(source) can funnel a mega-source through one
    task) and composes via a broadcast offsets/count join, not a
    shuffle."""
    from incubator_flink_old_spark.operators.text import quality_calibrate
    from incubator_flink_old_spark.queries._util import t

    docs = t(spark, SF, "documents")
    out = quality_calibrate(docs, skew_safe=True)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Window" not in plan and "percent_rank" not in plan
    phys = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in phys or "BroadcastNestedLoopJoin" in phys
    # and the single-window form (the one the pin exists to avoid) DOES
    # carry the per-source window — the modes genuinely diverge in plan
    # while agreeing in value.
    wplan = (
        quality_calibrate(docs)._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "percent_rank" in wplan


# --------------------------------------------------------------------------
# Training-data factory end-to-end (q_training_factory_e2e, VERDICT r11 #4)
# --------------------------------------------------------------------------


def test_factory_composition_laws_and_plan(spark):
    """The composed crawl→schedule chain: every scheduled document is
    an absorb-rule ADMIT that survived calibration (the stage
    boundaries feed forward — stage-subset law), cum_tokens is the
    exact prefix sum over sched order with chunk_id = (cum−n) div
    budget (the chunk laws, on the composed output), and the composed
    plan carries NO empty-partitionBy window (walked structurally —
    every Window node partitions on ≥1 key) and no cartesian
    product."""
    from incubator_flink_old_spark.operators.text import (
        quality_calibrate,
        streaming_ingest_gate,
        token_budget_chunks,
    )
    from incubator_flink_old_spark.queries._util import t
    from incubator_flink_old_spark.queries.llm_ops32 import (
        _FACTORY_WEIGHTS,
    )

    docs = t(spark, SF, "documents")
    is_new = F.col("doc_id") % 5 == 4
    new_docs = docs.filter(is_new).select("doc_id", "text", "lang", "source")
    gate = streaming_ingest_gate(
        new_docs,
        docs.filter(~is_new),
        langs=("en", "de", "fr"),
        num_hashes=8,
        band_size=4,
        jaccard_threshold=0.7,
        screens=("neardup",),
    )
    admitted = new_docs.join(
        gate.filter(
            F.col("quality_ok") & F.col("lang_ok") & ~F.col("has_neardup")
        ).select("doc_id"),
        on="doc_id",
    ).localCheckpoint(eager=True)
    try:
        cal = quality_calibrate(admitted, keep_frac=0.75, skew_safe=True)
        kept = admitted.join(
            cal.filter("keep").select("doc_id"), on="doc_id"
        )
        out = token_budget_chunks(
            kept, budget=512, weights=dict(_FACTORY_WEIGHTS)
        )

        analyzed = out._jdf.queryExecution().analyzed()

        def walk(node):
            yield node
            for i in range(node.children().size()):
                yield from walk(node.children().apply(i))

        for n in walk(analyzed):
            if n.nodeName() == "Window":
                assert n.partitionSpec().size() >= 1, str(n)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "CartesianProduct" not in plan

        rows = sorted(out.collect(), key=lambda r: r["sched_pos"])
        assert rows, "factory scheduled nothing — fixture drift?"
        kept_ids = {r["doc_id"] for r in kept.collect()}
        adm_ids = {r["doc_id"] for r in admitted.collect()}
        sched_ids = {r["doc_id"] for r in rows}
        assert sched_ids <= kept_ids <= adm_ids
        # scheduled = kept ∩ weighted sources (the mixture selection)
        srcs = {s for s, _ in _FACTORY_WEIGHTS}
        expect = {
            r["doc_id"]
            for r in kept.collect()
            if r["source"] in srcs
        }
        assert sched_ids == expect
        cum = 0
        for r in rows:
            cum += r["n_tokens"]
            assert r["cum_tokens"] == cum
            assert r["chunk_id"] == (cum - r["n_tokens"]) // 512
    finally:
        admitted.unpersist()


def test_mixture_schedule_skew_safe_equals_window(spark):
    """mixture_schedule's two-level ≡ single-window law (the
    quality_calibrate skew story applied to the schedule's per-source
    hash rank): identical (src_rank, sched_pos) either mode, so the
    curriculum is bit-reproducible whichever path a deployment
    picks."""
    from incubator_flink_old_spark.operators.text import mixture_schedule
    from incubator_flink_old_spark.queries._util import t
    from incubator_flink_old_spark.queries.llm_ops29 import _MIX_WEIGHTS

    docs = t(spark, SF, "documents")
    key = lambda r: (r.doc_id, r.source, r.src_rank, r.sched_pos)  # noqa: E731
    plain = sorted(map(key, mixture_schedule(docs, dict(_MIX_WEIGHTS)).collect()))
    safe = sorted(
        map(
            key,
            mixture_schedule(
                docs, dict(_MIX_WEIGHTS), skew_safe=True
            ).collect(),
        )
    )
    assert plain == safe and len(plain) > 0


def test_semantic_screens_reject_nonpositive_n_probe(spark):
    """Degenerate n_probe must fail loudly in BOTH screen forms — a
    zero/negative probe count silently emits zero events (an
    unscreened front door), the centers_rows-guard class (round-12
    review finding)."""
    from incubator_flink_old_spark.operators.similarity import (
        semantic_screen_events,
        semantic_screen_events_map,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    centers = spark.createDataFrame(
        [(1, [1000000, 0])], "cell int, cv array<long>"
    ).collect()
    cells = spark.createDataFrame([(1, 1)], "vec_id long, cell int")
    with pytest.raises(ValueError, match="n_probe"):
        semantic_screen_events(df, df, n_probe=0)
    with pytest.raises(ValueError, match="n_probe"):
        semantic_screen_events_map(df, centers, cells, df, n_probe=0)


def test_stream_semantic_absorb_flips_verdict(spark):
    """The absorption law AT STREAM LEVEL (q_stream_semantic_absorb_
    parity): a streamed wave-2 paraphrase of a wave-1 admit reads
    has_semdup FALSE when the gate's static sides are the FROZEN
    standing artifacts and TRUE when they are the ABSORBED ones — the
    verdict flip rides entirely on which (cells, vectors) frames the
    stream-static joins read, with the same pure-map probe and the
    same single fold."""
    import datetime

    from incubator_flink_old_spark.operators.similarity import (
        grid_assign_map,
        grid_ivf,
        semantic_screen_events_map,
    )
    from incubator_flink_old_spark.operators.text import (
        streaming_ingest_gate,
    )
    from incubator_flink_old_spark.sources import local_rows
    from incubator_flink_old_spark.streaming import replay_source, stream_result

    schema_e = "vec_id long, embedding array<float>"
    corpus0 = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])], schema_e
    )
    w1 = spark.createDataFrame([(10, [0.0, 0.0, 1.0, 0.0])], schema_e)
    probe_emb = spark.createDataFrame(
        [(20, [0.0, 0.0, 0.99, 0.01])], schema_e
    )
    cells0, centers = grid_ivf(corpus0, n_cells=2, iters=1)
    centers_rows = centers.collect()

    sw = "the a of and to the a of and to words enough for quality " * 4
    t0 = datetime.datetime(2024, 1, 1)
    batches = [
        local_rows(spark, [(doc, sw, "en", ts)],
                   "doc_id long, text string, lang string, ts timestamp")
        for doc, ts in ((20, t0), (-1, t0 + datetime.timedelta(hours=1)))
    ]

    def run(stream, cells, emb):
        sem = semantic_screen_events_map(
            stream.select(F.col("doc_id").alias("vec_id"), "ts").join(
                probe_emb, on="vec_id"
            ),
            centers_rows,
            cells,
            emb,
            n_probe=2,
            threshold=0.9,
            carry=("ts",),
        ).select("doc_a", "ts")
        out = streaming_ingest_gate(
            stream,
            None,
            langs=("en",),
            screens=(),
            extra_screens={"semdup": sem},
            event_time="ts",
            watermark_delay="30 seconds",
        )
        verdicts = stream_result(out, "append", state_partitions=None)
        return {
            r["doc_id"]: r.asDict()
            for r in verdicts.filter(F.col("doc_id") >= 0).collect()
        }

    with replay_source(batches) as stream:
        frozen = run(stream, cells0, corpus0)
        merged = run(
            stream,
            cells0.unionByName(grid_assign_map(w1, centers_rows)),
            corpus0.unionByName(w1),
        )
    assert frozen[20]["has_semdup"] is False
    assert merged[20]["has_semdup"] is True
    assert frozen[20]["admit"] and not merged[20]["admit"]


# --------------------------------------------------------------------------
# Property laws for the round's centerpiece helpers
# --------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),    # group (incl. dup-heavy)
            st.integers(min_value=-50, max_value=50),  # order value (ties!)
        ),
        min_size=1,
        max_size=40,
    ),
    null_groups=st.booleans(),
)
@settings(max_examples=6, deadline=None)
def test_per_group_row_number_property(spark, rows, null_groups):
    """per_group_row_number ≡ Window.partitionBy(group).row_number on
    ANY data — duplicate order values (tie-broken by key), skewed
    groups, and NULL group keys — regardless of where the range
    sampler lands."""
    from pyspark.sql import Window

    from incubator_flink_old_spark.operators.aggregates import (
        per_group_row_number,
    )

    data = [
        (i, None if (null_groups and g == 0) else f"g{g}", v)
        for i, (g, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "k long, grp string, v long"
    ).repartition(5)
    order = [F.col("v").desc_nulls_last(), F.col("k")]
    got = {
        r.k: r.rn
        for r in per_group_row_number(df, "grp", order, alias="rn").collect()
    }
    w = Window.partitionBy("grp").orderBy(*order)
    exp = {
        r.k: r.rn
        for r in df.withColumn(
            "rn", F.row_number().over(w).cast("long")
        ).collect()
    }
    assert got == exp


@given(
    vecs=st.lists(
        st.tuples(
            st.lists(
                st.floats(
                    min_value=-1.0,
                    max_value=1.0,
                    allow_nan=False,
                    width=32,
                ),
                min_size=4,
                max_size=4,
            ),
        ),
        min_size=3,
        max_size=14,
    ),
    n_probe=st.integers(min_value=1, max_value=4),
)
@settings(max_examples=5, deadline=None)
def test_semantic_map_equals_window_property(spark, vecs, n_probe):
    """The map ≡ window law on RANDOM embeddings (including all-zero
    vectors that floor-quantize to the zero-norm sentinel and exact
    duplicate vectors that tie the probe rank): both probe forms emit
    the identical event set for any corpus/query split and any
    n_probe."""
    from incubator_flink_old_spark.operators.similarity import (
        grid_ivf,
        semantic_screen_events,
        semantic_screen_events_map,
    )

    data = [(i, list(v[0])) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(data, "vec_id long, embedding array<float>")
    new = emb.filter(F.col("vec_id") % 3 == 0)
    corpus = emb.filter(F.col("vec_id") % 3 != 0)
    if corpus.count() == 0:
        return
    n_cells = 2
    w = semantic_screen_events(
        new, corpus, n_cells=n_cells, iters=1, n_probe=n_probe,
        threshold=0.2,
    )
    cells, centers = grid_ivf(corpus, n_cells=n_cells, iters=1)
    m = semantic_screen_events_map(
        new, centers.collect(), cells, corpus, n_probe=n_probe,
        threshold=0.2,
    )
    key = lambda r: (r.doc_a, r.doc_b, round(r.cos, 12))  # noqa: E731
    assert sorted(map(key, w.collect())) == sorted(map(key, m.collect()))
