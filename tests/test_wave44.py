"""Wave-44 laws: the dense known-item MRR eval (q_retrieval_eval_mrr_dense)
— probe pruning is the ONLY approximation (all-cells ≡ brute force) and
the identity mask is exact (self_rank 1 everywhere) — and the watermarked
streaming near-dup screen (parity with the unwatermarked form and the
batch oracle; fail-loudly on a missing event-time column)."""

from __future__ import annotations

import itertools
import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(not os.path.isdir(SF), reason="no testdata")

_W44_SEQ = itertools.count()


def test_dense_mrr_all_cells_equals_brute(spark):
    """n_probe = n_cells removes probe pruning, the serve's only
    approximation: the self-rank rows must equal a direct brute-force
    rank of the same masked queries over the whole corpus."""
    from incubator_flink_old_spark.operators.similarity import (
        as_double_array,
        cosine,
    )
    from incubator_flink_old_spark.queries._util import t
    from incubator_flink_old_spark.queries.llm_ops11 import _N_CELLS
    from incubator_flink_old_spark.queries.llm_ops29 import (
        _DENSE_TOPK,
        _dense_mrr,
        _masked_queries,
    )

    got = sorted(
        (r.q_id, r.self_rank, r.rr)
        for r in _dense_mrr(spark, SF, n_probe=_N_CELLS).collect()
    )
    emb = t(spark, SF, "embeddings")
    q = _masked_queries(emb, 3)
    cvec = emb.select("vec_id", as_double_array("embedding").alias("v"))
    ranked = (
        F.broadcast(q)
        .crossJoin(cvec)
        .select("q_id", "vec_id", cosine(F.col("qv"), F.col("v")).alias("cos"))
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(
                    F.col("cos").desc(), "vec_id"
                )
            ),
        )
        .filter(
            (F.col("rnk") <= _DENSE_TOPK) & (F.col("vec_id") == F.col("q_id"))
        )
    )
    hits = {r.q_id: r.rnk for r in ranked.collect()}
    want = sorted(
        (qid, hits.get(qid, 0), 1.0 / hits[qid] if qid in hits else 0.0)
        for qid in {g[0] for g in got}
    )
    assert got == want


def test_dense_mrr_identity_mask_is_exact(spark):
    """mask_mod=None (no degradation): the query IS its document's
    vector, its top probe cell is its own assignment cell (identical
    quantization + arithmetic), and self-cosine 1.0 is the maximum —
    every query must report self_rank 1, rr 1.0."""
    from incubator_flink_old_spark.queries.llm_ops29 import _dense_mrr

    rows = _dense_mrr(spark, SF, mask_mod=None).collect()
    assert len(rows) == 10
    assert all(r.self_rank == 1 and r.rr == 1.0 for r in rows)


def test_dense_mrr_plan_has_no_cartesian(spark):
    """The serve must stay broadcast/equi-joined: query×centers rides a
    broadcast, candidates an equi-join on cell, ranking equi-joins on
    vec_id/q_id — a CartesianProduct anywhere would be corpus×corpus."""
    from incubator_flink_old_spark.queries.llm_ops29 import (
        q_retrieval_eval_mrr_dense,
    )

    plan = q_retrieval_eval_mrr_dense(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def _neardup_stream_run(spark, event_time, in_order=True):
    """Drive streaming_neardup_screen over a 4-batch file replay of the
    sf0.001 'new' slice; returns (emitted rows, stopped query handle)."""
    from incubator_flink_old_spark.operators.text import (
        streaming_neardup_screen,
    )
    from incubator_flink_old_spark.queries._util import t
    from incubator_flink_old_spark.queries.llm_ops28 import _D_MOD, _D_REM
    from incubator_flink_old_spark.streaming import (
        event_time_batches,
        replay_source,
        run_stream_to_memory,
    )

    docs = t(spark, SF, "documents")
    is_new = F.col("doc_id") % _D_MOD == _D_REM
    new_docs = docs.filter(is_new).select(
        "doc_id",
        "text",
        F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id")).alias("ts"),
    )
    with replay_source(event_time_batches(new_docs, n_files=4)) as stream:
        out = streaming_neardup_screen(
            stream,
            docs.filter(~is_new),
            event_time=event_time,
            watermark_delay="30 seconds",
        )
        name = f"w44_ndw_{next(_W44_SEQ)}"
        q = run_stream_to_memory(out, name, "append", state_partitions=4)
    rows = spark.table(name).collect()
    return rows, q


def test_neardup_watermark_parity_and_eviction(spark):
    """The watermarked screen must emit exactly the unwatermarked
    screen's pairs under in-event-time-order replay (a pair's multi-band
    hits share one arrival row ⇒ one event time ⇒ none straddle the
    watermark), AND its final dedup state must hold strictly fewer rows
    than the pairs emitted — eviction really ran as the watermark
    advanced across batches (the unbounded form keeps one state row per
    pair forever)."""
    wm_rows, q = _neardup_stream_run(spark, "ts")
    plain_rows, _ = _neardup_stream_run(spark, None)
    key = lambda r: (r.doc_a, r.doc_b, round(r.jaccard, 9))
    assert sorted(map(key, wm_rows)) == sorted(map(key, plain_rows))
    assert len(wm_rows) > 0
    state = q.lastProgress["stateOperators"][0]
    assert state["numRowsTotal"] < len(wm_rows)


def test_neardup_watermark_rejects_missing_column(spark):
    """A typo'd event-time column must fail at the API boundary, not as
    an unresolved attribute deep in the dedup plan."""
    from incubator_flink_old_spark.operators.text import (
        streaming_neardup_screen,
    )
    from incubator_flink_old_spark.queries._util import t

    docs = t(spark, SF, "documents")
    with pytest.raises(ValueError, match="event_time column"):
        streaming_neardup_screen(docs, docs, event_time="ingest_ts")


def test_epoch_shuffle_laws(spark):
    """Per (epoch, shard) the positions are exactly 1..shard_size (a
    true permutation — no gaps, no ties), the two epochs order the same
    documents DIFFERENTLY (the epoch salt works), re-running reproduces
    the identical assignment (determinism), and shard sizes stay within
    loose binomial bounds of n/n_shards (no hash pathologies)."""
    from collections import defaultdict

    from incubator_flink_old_spark.operators.text import epoch_shuffle
    from incubator_flink_old_spark.queries._util import t

    docs = t(spark, SF, "documents")
    rows = epoch_shuffle(docs, epochs=2, n_shards=8).collect()
    n = docs.count()
    assert len(rows) == 2 * n
    by_es = defaultdict(list)
    for r in rows:
        by_es[(r.epoch, r.shard)].append(r.pos)
    for (_, _), poss in by_es.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    order = {
        e: sorted(((r.shard, r.pos), r.doc_id) for r in rows if r.epoch == e)
        for e in (0, 1)
    }
    assert [d for _, d in order[0]] != [d for _, d in order[1]]
    again = epoch_shuffle(docs, epochs=2, n_shards=8).collect()
    key = lambda r: (r.epoch, r.doc_id, r.shard, r.pos)
    assert sorted(map(key, rows)) == sorted(map(key, again))
    sizes = [len(v) for v in by_es.values()]
    mean = 2 * n / 16
    assert min(sizes) > mean * 0.5 and max(sizes) < mean * 1.5


def test_semantic_pairs_consistent_with_dedup(spark):
    """semantic_pairs is the PAIR view of semantic_dedup's decision:
    a vector is dropped (keep=False) iff it appears as the HIGHER key
    of at least one emitted pair — same quantizer, same threshold, same
    arithmetic, shared via _sem_assigned."""
    from incubator_flink_old_spark.operators.similarity import (
        semantic_dedup,
        semantic_pairs,
    )
    from incubator_flink_old_spark.queries._util import t

    emb = t(spark, SF, "embeddings")
    pairs = semantic_pairs(emb).collect()
    assert pairs and all(r.vec_a < r.vec_b for r in pairs)
    dropped_by_pairs = {r.vec_b for r in pairs}
    dedup = semantic_dedup(emb).collect()
    dropped_by_dedup = {r.vec_id for r in dedup if not r.keep}
    assert dropped_by_pairs == dropped_by_dedup


def test_join_hotkey_audit_estimate_is_exact(spark):
    """The audit's est_rows is not an estimate at all for inner
    equi-joins — per key it must equal the ACTUAL join output count,
    and its sum the actual join size (the whole point: exact explosion
    numbers from count digests, without paying the join)."""
    from incubator_flink_old_spark.operators.joins import join_hotkey_audit
    from incubator_flink_old_spark.queries._util import t

    ev = t(spark, SF, "events")
    audit = join_hotkey_audit(ev, ev, "user_id", threshold=5000).collect()
    actual = (
        ev.select(F.col("user_id").alias("key"))
        .join(ev.select(F.col("user_id").alias("key")), on="key")
        .groupBy("key")
        .count()
        .collect()
    )
    assert {r.key: r.est_rows for r in audit} == {
        r.key: r["count"] for r in actual
    }
    assert any(r.hot for r in audit) and any(not r.hot for r in audit)


def test_l_diversity_invariants(spark):
    """n_sensitive never exceeds class_size, the flag is exactly the
    threshold comparison, and the fixture exhibits the homogeneity gap
    the operator exists for: at least one class is large yet fails
    l-diversity."""
    from incubator_flink_old_spark.operators.text import l_diversity
    from incubator_flink_old_spark.queries._util import t

    joined = (
        t(spark, SF, "customer")
        .join(
            t(spark, SF, "orders"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .select("c_nationkey", "c_mktsegment", "o_orderpriority")
    )
    rows = l_diversity(
        joined, quasi=("c_nationkey", "c_mktsegment"),
        sensitive="o_orderpriority", l=3,
    ).collect()
    assert rows
    for r in rows:
        assert r.n_sensitive <= r.class_size
        assert r.l_ok == (r.n_sensitive >= 3)
    assert any(r.class_size >= 5 and not r.l_ok for r in rows)


def test_mixture_schedule_laws(spark):
    """Stride-schedule guarantees: (a) while no source is exhausted,
    every prefix's per-source count is within one stride of the weight
    proportion; (b) each source's subsequence preserves its seeded hash
    order (src_rank strictly increasing along sched_pos); (c) reruns
    are bit-identical; (d) sched_pos is a gap-free permutation."""
    from collections import Counter

    from incubator_flink_old_spark.operators.text import mixture_schedule
    from incubator_flink_old_spark.queries._util import t

    docs = t(spark, SF, "documents")
    weights = {"src0": 4.0, "src1": 2.0, "src2": 1.0, "src3": 1.0}
    rows = sorted(
        mixture_schedule(docs, weights).collect(), key=lambda r: r.sched_pos
    )
    assert [r.sched_pos for r in rows] == list(range(1, len(rows) + 1))
    last_rank = {}
    for r in rows:
        assert last_rank.get(r.source, 0) < r.src_rank
        last_rank[r.source] = r.src_rank
    per_source = Counter(r.source for r in rows)
    total_w = sum(weights.values())
    # un-exhausted regime: source s runs dry once the prefix reaches
    # ~ avail_s · total_w / w_s rows (its share of the stream is
    # w_s/total_w) — the proportionality law only holds before the
    # FIRST exhaustion, so stop just short of the earliest one.
    horizon = int(
        min(per_source[s] * total_w / w for s, w in weights.items())
    ) - len(weights)
    seen = Counter()
    for i, r in enumerate(rows[:horizon], start=1):
        seen[r.source] += 1
        for s, w in weights.items():
            assert abs(seen[s] - i * w / total_w) <= 1 + w, (i, s, seen)
    again = sorted(
        mixture_schedule(docs, weights).collect(), key=lambda r: r.sched_pos
    )
    assert [(r.doc_id, r.sched_pos) for r in again] == [
        (r.doc_id, r.sched_pos) for r in rows
    ]


def test_winnow_coverage_invariant(spark):
    """Winnowing selects a representative from EVERY window: for each
    document, every window position q must contain at least one
    selected fingerprint position in [q, q+w-1] — the invariant the
    ~2/(w+1) density claim and the detection guarantee both rest on."""
    from collections import defaultdict

    from incubator_flink_old_spark.operators.text import (
        tokens,
        winnow_fingerprints,
    )
    from incubator_flink_old_spark.queries._util import t

    k, w = 3, 4
    docs = t(spark, SF, "documents")
    fps = winnow_fingerprints(docs, k=k, w=w).collect()
    assert fps
    n_hashes = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id", (F.size(tokens("text")) - (k - 1)).alias("n")
        ).collect()
        if r.n >= 1
    }
    by_doc = defaultdict(set)
    for r in fps:
        by_doc[r.doc_id].add(r.pos)
    assert set(by_doc) == set(n_hashes)
    for doc, poss in by_doc.items():
        n = n_hashes[doc]
        for q in range(1, max(n - w + 1, 1) + 1):
            assert any(q <= p <= q + w - 1 for p in poss), (doc, q)


def test_winnow_detection_guarantee(spark):
    """The winnowing theorem on an adversarial pair: two documents
    sharing a run of w+k-1 = 6 tokens (embedded at DIFFERENT offsets in
    otherwise-disjoint text) must share at least one selected
    fingerprint HASH — the deterministic floor MinHash banding can't
    promise. A third document with no 6-token overlap shares none."""
    from incubator_flink_old_spark.operators.text import winnow_fingerprints
    from incubator_flink_old_spark.sources import local_rows

    shared = "alpha beta gamma delta epsilon zeta"
    df = local_rows(
        spark,
        [
            (1, "aa bb cc dd " + shared + " ee ff"),
            (2, "pp qq " + shared + " rr ss tt uu vv"),
            (3, "one two three four five six seven eight nine ten"),
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(df, k=3, w=4).collect()
    sets = {d: {r.fp for r in fps if r.doc_id == d} for d in (1, 2, 3)}
    assert sets[1] & sets[2]
    assert not (sets[1] & sets[3]) and not (sets[2] & sets[3])


def test_winnow_matches_guarantee_and_cap(spark):
    """winnow_matches at min_shared=1/no cap reports exactly the pairs
    whose fingerprint sets intersect — on the adversarial trio, (1,2)
    and nothing touching 3; a doc-frequency cap below every
    fingerprint's df empties the result (the stop-gram valve is a
    pre-join filter, not a post-hoc one)."""
    from incubator_flink_old_spark.operators.text import winnow_matches
    from incubator_flink_old_spark.sources import local_rows

    shared = "alpha beta gamma delta epsilon zeta"
    df = local_rows(
        spark,
        [
            (1, "aa bb cc dd " + shared + " ee ff"),
            (2, "pp qq " + shared + " rr ss tt uu vv"),
            (3, "one two three four five six seven eight nine ten"),
        ],
        "doc_id long, text string",
    )
    pairs = winnow_matches(df, k=3, w=4, min_shared=1).collect()
    assert {(r.doc_a, r.doc_b) for r in pairs} == {(1, 2)}
    assert winnow_matches(df, k=3, w=4, min_shared=1, max_df=1).count() == 0


def test_new_operator_guards(spark):
    """Fail-loudly boundaries for the wave-44 operators: degenerate
    knobs raise at the API, never silently emit empty/sentinel rows."""
    from incubator_flink_old_spark.operators.text import (
        epoch_shuffle,
        streaming_winnow_screen,
        winnow_fingerprints,
    )
    from incubator_flink_old_spark.queries._util import t

    docs = t(spark, SF, "documents")
    with pytest.raises(ValueError, match="epochs"):
        epoch_shuffle(docs, epochs=0)
    with pytest.raises(ValueError, match="n_shards"):
        epoch_shuffle(docs, n_shards=0)
    with pytest.raises(ValueError, match="must be >= 1"):
        winnow_fingerprints(docs, w=0)
    with pytest.raises(ValueError, match="event_time column"):
        streaming_winnow_screen(docs, docs, event_time="ingest_ts")


def test_streaming_winnow_watermark_parity(spark):
    """The watermarked winnow screen (event_time recipe carried over
    from the neardup screen) emits exactly the unwatermarked screen's
    events under in-event-time-order replay, with eviction bounding the
    final dedup state below the emitted-event count."""
    from incubator_flink_old_spark.operators.text import (
        streaming_winnow_screen,
    )
    from incubator_flink_old_spark.queries._util import t
    from incubator_flink_old_spark.queries.llm_ops28 import _D_MOD, _D_REM
    from incubator_flink_old_spark.streaming import (
        event_time_batches,
        replay_source,
        run_stream_to_memory,
    )

    docs = t(spark, SF, "documents")
    is_new = F.col("doc_id") % _D_MOD == _D_REM
    new_docs = docs.filter(is_new).select(
        "doc_id",
        "text",
        F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id")).alias("ts"),
    )
    results = {}
    for label, et in (("wm", "ts"), ("plain", None)):
        with replay_source(event_time_batches(new_docs, n_files=4)) as stream:
            out = streaming_winnow_screen(
                stream,
                docs.filter(~is_new),
                k=3,
                w=4,
                max_df=100,
                event_time=et,
                watermark_delay="30 seconds",
            )
            if et is None:
                out = out.drop("ts")
            name = f"w44_winwm_{next(_W44_SEQ)}"
            q = run_stream_to_memory(out, name, "append", state_partitions=4)
        results[label] = (
            {(r.doc_a, r.doc_b, r.fp) for r in spark.table(name).collect()},
            q.lastProgress["stateOperators"][0]["numRowsTotal"],
        )
    assert results["wm"][0] == results["plain"][0] and results["wm"][0]
    assert results["wm"][1] < len(results["wm"][0])


def test_rp_refine_laws(spark):
    """Random-projection tier laws: (1) refine_c ≥ pool ⇒ identical
    recall to the exact full-dim ranking over the probed cells (the
    sketch can no longer cost anything) — proven by equality with the
    PREFIX tier at prefix=full dim, whose stage A is already exact;
    (2) recall is monotone nondecreasing in refine_c; (3) the sketch is
    deterministic across reruns."""
    from incubator_flink_old_spark.queries._util import t
    from incubator_flink_old_spark.queries.llm_ops11 import _DIM
    from incubator_flink_old_spark.queries.llm_ops27 import (
        _prefix_refine_recall_df,
    )
    from incubator_flink_old_spark.queries.llm_ops29 import _rp_recall_df

    n = t(spark, SF, "embeddings").count()
    unbounded = {
        r.q_id: r.hits for r in _rp_recall_df(spark, SF, refine_c=n).collect()
    }
    exact_over_cells = {
        r.q_id: r.hits
        for r in _prefix_refine_recall_df(
            spark, SF, refine_c=n, prefix=_DIM
        ).collect()
    }
    assert unbounded == exact_over_cells
    prev = None
    for c in (5, 20, 80):
        cur = sum(
            r.hits for r in _rp_recall_df(spark, SF, refine_c=c).collect()
        )
        if prev is not None:
            assert cur >= prev
        prev = cur
    assert prev <= sum(unbounded.values())
    again = {
        r.q_id: r.hits for r in _rp_recall_df(spark, SF, refine_c=n).collect()
    }
    assert again == unbounded


def test_streaming_winnow_screen_batch_parity(spark):
    """The streaming winnowed screen must emit exactly the batch
    equi-join of the two sides' fingerprint sets (df-capped corpus),
    whatever the microbatch boundaries — every event depends only on
    its own two token streams."""
    from incubator_flink_old_spark.operators.text import (
        streaming_winnow_screen,
        winnow_fingerprints,
    )
    from incubator_flink_old_spark.queries._util import t
    from incubator_flink_old_spark.queries.llm_ops28 import _D_MOD, _D_REM
    from incubator_flink_old_spark.streaming import replay_source, stream_result

    docs = t(spark, SF, "documents")
    is_new = F.col("doc_id") % _D_MOD == _D_REM
    with replay_source(
        [docs.filter(is_new).select("doc_id", "text").repartition(4)]
    ) as stream:
        out = streaming_winnow_screen(
            stream, docs.filter(~is_new), k=3, w=4, max_df=100
        )
        emitted = stream_result(out, "append", state_partitions=4)
    got = {(r.doc_a, r.doc_b, r.fp) for r in emitted.collect()}
    fps = winnow_fingerprints(docs, k=3, w=4).select("doc_id", "fp").distinct()
    nfp = fps.filter(is_new)
    cfp = fps.filter(~is_new)
    capped = cfp.join(
        cfp.groupBy("fp")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") <= 100)
        .select("fp"),
        on="fp",
    )
    want = {
        (r.doc_a, r.doc_b, r.fp)
        for r in nfp.select(F.col("doc_id").alias("doc_a"), "fp")
        .join(
            capped.select(F.col("doc_id").alias("doc_b"), "fp"), on="fp"
        )
        .collect()
    }
    assert got == want and got


def test_winnow_incremental_merge_equals_recompute(spark):
    """The winnow maintenance laws: (a) merge_winnow_stats over a
    disjoint base/delta split reproduces the union-recomputed (fp, df)
    stats exactly (integer-sum mergeability), and (b) the merged-index
    match set through winnow_matches_from_index is bit-identical to
    winnow_matches over the union corpus — the delta was absorbed
    without re-shingling the base."""
    from incubator_flink_old_spark.operators.text import (
        merge_winnow_stats,
        winnow_fingerprints,
        winnow_index_stats,
        winnow_matches,
        winnow_matches_from_index,
    )
    from incubator_flink_old_spark.queries._util import t

    docs = t(spark, SF, "documents").limit(300)
    is_delta = F.col("doc_id") % 5 == 4
    fps_b = winnow_fingerprints(
        docs.filter(~is_delta), k=3, w=4, hashes_only=True
    )
    fps_d = winnow_fingerprints(
        docs.filter(is_delta), k=3, w=4, hashes_only=True
    )
    fps_all = winnow_fingerprints(docs, k=3, w=4, hashes_only=True)

    merged = merge_winnow_stats(
        winnow_index_stats(fps_b), winnow_index_stats(fps_d)
    )
    full = winnow_index_stats(fps_all)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, full.collect())
    )

    inc = winnow_matches_from_index(
        fps_b.unionByName(fps_d), merged, min_shared=1, max_df=50
    )
    ref = winnow_matches(docs, k=3, w=4, min_shared=1, max_df=50)
    assert sorted(map(tuple, inc.collect())) == sorted(
        map(tuple, ref.collect())
    )


def test_winnow_from_index_cap_requires_stats(spark):
    """A df cap with no stats frame must raise, not silently skip the
    stop-gram filter (the quadratic-blowup valve would be off)."""
    from incubator_flink_old_spark.operators.text import (
        merge_winnow_stats,
        winnow_fingerprints,
        winnow_matches_from_index,
    )
    from incubator_flink_old_spark.queries._util import t

    fps = winnow_fingerprints(
        t(spark, SF, "documents").limit(20), k=3, w=4, hashes_only=True
    )
    with pytest.raises(ValueError, match="stats is None"):
        winnow_matches_from_index(fps, None, max_df=10)
    with pytest.raises(ValueError, match="no stats frames"):
        merge_winnow_stats()


def test_streaming_winnow_stats_boundary_invariance(spark):
    """The streamed (fp, df) state after a 3-batch replay must equal
    winnow_index_stats over the whole corpus — per-fp counts are an
    integer-sum monoid over once-only arrivals, so batch boundaries
    cannot show (the streaming_bm25_stats law, applied to the
    span-dedup cap statistics)."""
    from incubator_flink_old_spark.operators.text import (
        streaming_winnow_stats,
        winnow_fingerprints,
        winnow_index_stats,
    )
    from incubator_flink_old_spark.queries._util import t
    from incubator_flink_old_spark.streaming import replay_source, stream_result

    docs = t(spark, SF, "documents").limit(120).select("doc_id", "text")
    with replay_source([docs.repartition(3)]) as stream:
        stats = stream_result(
            streaming_winnow_stats(stream, k=3, w=4), "complete",
            state_partitions=4,
        )
    streamed = sorted(map(tuple, stats.collect()))
    batch = winnow_index_stats(
        winnow_fingerprints(docs, k=3, w=4, hashes_only=True)
    )
    assert streamed == sorted(map(tuple, batch.collect()))
