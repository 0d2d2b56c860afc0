"""Wave-46 laws (round 11): N-wave ingest absorption through the
maintained indexes (absorb ≡ recompute at the verdict level; absorption
changes a verdict the frozen corpus misses; a df-cap decision flips only
in the merged stats; the wave-2 plan reads the standing artifacts from
cache), plus the round's review-fix guards — the gate's pinned NULL
regime (unscorable/NULL-lang ⇒ FALSE verdicts, cross-checked against the
DuckDB oracle on a crafted fixture), duplicate-arrival replay invariance
of the gate verdicts (VERDICT r10 item 4), the checked BIGINT emission,
the drift-audit checkpoint release, and the screens' fail-loud config
guards."""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(not os.path.isdir(SF), reason="no testdata")

_GATE_KW = dict(num_hashes=8, band_size=4, jaccard_threshold=0.7)


# --------------------------------------------------------------------------
# N-wave absorption (q_ingest_absorb_parity, VERDICT r10 item 2)
# --------------------------------------------------------------------------


def test_absorb_equals_recompute(spark):
    """The row's core law at the verdict level: gating wave 2 against
    the ABSORBED artifacts (standing tables + wave-1 delta append +
    merge_winnow_stats) emits exactly the verdicts of a from-scratch
    gate against the recomputed union corpus — the merge-exactness
    claim (integer df sums over disjoint documents; band/token append)
    end-to-end through the composed gate."""
    from incubator_flink_old_spark.queries.llm_ops30 import _GATE_LANGS
    from incubator_flink_old_spark.operators.text import (
        merge_winnow_stats,
        neardup_corpus_artifacts,
        streaming_ingest_gate,
        winnow_corpus_index,
    )
    from incubator_flink_old_spark.queries._util import t

    kw = dict(langs=_GATE_LANGS, k=3, w=4, max_df=25, **_GATE_KW)
    docs = t(spark, SF, "documents")
    m5 = F.col("doc_id") % 5
    corpus0 = docs.filter(m5 <= 2).select("doc_id", "text")
    wave1 = docs.filter(m5 == 3).select("doc_id", "text", "lang")
    wave2 = docs.filter(m5 == 4).select("doc_id", "text", "lang")

    # recompute reference: wave-1 absorbs via corpus rebuild
    g1 = streaming_ingest_gate(wave1, corpus0, **kw)
    admit = (
        F.col("quality_ok") & F.col("lang_ok") & ~F.col("has_neardup")
    )
    admitted1 = wave1.join(
        g1.filter(admit).select("doc_id"), on="doc_id"
    )
    corpus1 = corpus0.unionByName(admitted1.select("doc_id", "text"))
    recompute = streaming_ingest_gate(wave2, corpus1, **kw)

    # absorb path: standing artifacts + O(wave) delta merge
    toks0, bands0 = neardup_corpus_artifacts(corpus0, 8, 4)
    fps0, stats0 = winnow_corpus_index(corpus0, k=3, w=4)
    toks_d, bands_d = neardup_corpus_artifacts(admitted1, 8, 4)
    fps_d, stats_d = winnow_corpus_index(admitted1, k=3, w=4)
    absorb = streaming_ingest_gate(
        wave2,
        None,
        corpus_artifacts={
            "neardup": (
                toks0.unionByName(toks_d),
                bands0.unionByName(bands_d),
            ),
            "span": (
                fps0.unionByName(fps_d),
                merge_winnow_stats(stats0, stats_d),
            ),
        },
        **kw,
    )
    got = sorted(map(tuple, absorb.collect()))
    exp = sorted(map(tuple, recompute.collect()))
    assert got == exp and len(got) > 0


def test_absorption_changes_verdict(spark):
    """Absorption must MATTER: a wave-2 exact copy of a just-admitted
    wave-1 page is flagged has_neardup by the merged artifacts while
    the frozen corpus artifacts (which have never seen the page) admit
    it — the loop-closure property q_ingest_lifecycle pins for the
    recompute path, here pinned for the O(wave) absorb path."""
    from incubator_flink_old_spark.operators.text import (
        neardup_corpus_artifacts,
        streaming_ingest_gate,
    )

    pad = " ".join(f"tok{i}" for i in range(20))
    x_text = "the a of and to " + pad  # quality: sw .5/5+.3+.2 >= .4
    corpus0 = spark.createDataFrame(
        [(1, "completely unrelated corpus page alpha beta gamma " + pad * 2)],
        "doc_id long, text string",
    )
    wave1 = spark.createDataFrame(
        [(10, x_text, "en")], "doc_id long, text string, lang string"
    )
    wave2 = spark.createDataFrame(
        [(20, x_text, "en")], "doc_id long, text string, lang string"
    )
    kw = dict(langs=("en",), screens=("neardup",), **_GATE_KW)

    toks0, bands0 = neardup_corpus_artifacts(corpus0, 8, 4)
    frozen = {"neardup": (toks0, bands0)}
    g1 = streaming_ingest_gate(wave1, None, corpus_artifacts=frozen, **kw)
    r1 = g1.collect()[0]
    assert r1["admit"] and not r1["has_neardup"]  # wave 1 is absorbed

    # frozen artifacts: the copy sails through
    g2f = streaming_ingest_gate(wave2, None, corpus_artifacts=frozen, **kw)
    assert not g2f.collect()[0]["has_neardup"]

    # merged artifacts: the copy is caught
    toks_d, bands_d = neardup_corpus_artifacts(wave1, 8, 4)
    merged = {
        "neardup": (
            toks0.unionByName(toks_d),
            bands0.unionByName(bands_d),
        )
    }
    g2m = streaming_ingest_gate(wave2, None, corpus_artifacts=merged, **kw)
    r2 = g2m.collect()[0]
    assert r2["has_neardup"] and not r2["admit"]


def test_winnow_cap_flip_only_in_merged_stats(spark):
    """The reason winnow_corpus_index keeps fps UNCAPPED: a fingerprint
    under-cap in the frozen stats can be over-cap after the merge, and
    the cap must be applied from the MERGED stats at screen time. With
    max_df=2: frozen corpus df=2 (kept, 2 match events), one absorbed
    doc pushes df to 3 (dropped — 0 events), value-identical to a
    from-scratch index over the union."""
    from incubator_flink_old_spark.operators.text import (
        merge_winnow_stats,
        winnow_corpus_index,
        winnow_screen_events,
    )

    text = "aaa bbb ccc"  # 3 tokens = exactly one k=3 shingle
    mk = lambda ids: spark.createDataFrame(
        [(i, text) for i in ids], "doc_id long, text string"
    )
    corpus0, delta, probe = mk([1, 2]), mk([3]), mk([9])
    fps0, stats0 = winnow_corpus_index(corpus0, k=3, w=4)
    fps_d, stats_d = winnow_corpus_index(delta, k=3, w=4)

    frozen_hits = winnow_screen_events(
        probe, None, k=3, w=4, max_df=2, corpus_index=(fps0, stats0)
    ).collect()
    assert len(frozen_hits) == 2  # df=2 <= cap: both corpus docs hit

    merged = (
        fps0.unionByName(fps_d),
        merge_winnow_stats(stats0, stats_d),
    )
    merged_hits = winnow_screen_events(
        probe, None, k=3, w=4, max_df=2, corpus_index=merged
    ).collect()
    scratch_hits = winnow_screen_events(
        probe, corpus0.unionByName(delta), k=3, w=4, max_df=2
    ).collect()
    assert merged_hits == scratch_hits == []  # df=3 > cap: stop-gram


def test_absorb_plan_reads_cached_artifacts_no_cartesian(spark):
    """The 100 TB claim on the plan: wave 2's gate over persisted
    standing artifacts serves all four corpus-shaped inputs from the
    cache (4 InMemoryRelations — token/band/fp/stats), with no
    cartesian product anywhere in the composed DAG."""
    from pyspark.storagelevel import StorageLevel

    from incubator_flink_old_spark.operators.text import (
        neardup_corpus_artifacts,
        streaming_ingest_gate,
        winnow_corpus_index,
    )
    from incubator_flink_old_spark.queries._util import t

    docs = t(spark, SF, "documents")
    m5 = F.col("doc_id") % 5
    corpus0 = docs.filter(m5 <= 2).select("doc_id", "text")
    wave2 = docs.filter(m5 == 4).select("doc_id", "text", "lang")
    toks0, bands0 = neardup_corpus_artifacts(corpus0, 8, 4)
    fps0, stats0 = winnow_corpus_index(corpus0, k=3, w=4)
    pinned = [
        f.persist(StorageLevel.DISK_ONLY)
        for f in (toks0, bands0, fps0, stats0)
    ]
    try:
        g2 = streaming_ingest_gate(
            wave2,
            None,
            corpus_artifacts={
                "neardup": (pinned[0], pinned[1]),
                "span": (pinned[2], pinned[3]),
            },
            max_df=25,
            **_GATE_KW,
        )
        plan = g2._jdf.queryExecution().optimizedPlan().toString()
        assert "CartesianProduct" not in plan and "cartesian" not in plan
        assert plan.count("InMemoryRelation") >= 4
    finally:
        for f in pinned:
            f.unpersist()


# --------------------------------------------------------------------------
# Review-fix guards (ADVICE r10 + VERDICT r10 item 4)
# --------------------------------------------------------------------------


def test_gate_null_regime_cross_engine(spark, tmp_path):
    """The pinned NULL regime, cross-checked on a fixture the standing
    tables don't have: a zero-token document (NULL quality ratios) and
    a NULL-lang document read quality_ok / lang_ok FALSE — never NULL —
    on BOTH engines (the engine coalesces the evidence ints; the
    oracle wraps its flags in COALESCE(..., FALSE))."""
    from incubator_flink_old_spark.operators.text import (
        streaming_ingest_gate,
    )
    from incubator_flink_old_spark.queries.llm_ops30 import (
        _GATE_LANGS,
        _ingest_gate_oracle,
    )

    pad = " ".join(f"w{i}" for i in range(20))
    # the stopword PREFIX of the new docs is deliberately reversed vs
    # the corpus docs' so they share no 3-token shingle (span gate) and
    # no 0.7-jaccard token set (near-dup gate) with the corpus
    sw = "to and of a the to and of a the "
    rows = [
        (0, "corpus page one the a of and to " + pad, "en"),
        (1, "corpus page two entirely different words " + pad, "de"),
        (4, "", "en"),  # zero tokens -> NULL quality
        (9, sw + " ".join(f"v{i}" for i in range(26)), None),  # NULL lang
        (14, sw + " ".join(f"u{i}" for i in range(26)), "en"),  # admitted
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    p = str(tmp_path / "nulldocs")
    df.coalesce(1).write.parquet(p)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{p}/*.parquet')"
    )
    exp = sorted(map(tuple, con.execute(_ingest_gate_oracle()).fetchall()))
    con.close()

    is_new = F.col("doc_id") % 5 == 4
    got_df = streaming_ingest_gate(
        df.filter(is_new).select("doc_id", "text", "lang"),
        df.filter(~is_new),
        langs=_GATE_LANGS,
        k=3,
        w=4,
        max_df=25,
        **_GATE_KW,
    )
    got = {r["doc_id"]: r.asDict() for r in got_df.collect()}
    assert sorted(map(tuple, (tuple(v.values()) for v in got.values()))) == exp
    # the regime itself: FALSE, not None
    assert got[4]["quality_ok"] is False and got[4]["admit"] is False
    assert got[9]["lang_ok"] is False and got[9]["admit"] is False
    assert got[14]["admit"] is True


def test_gate_duplicate_replay_invariant(spark):
    """VERDICT r10 item 4: a duplicated-arrival replay (every new
    document ingested twice) leaves the gate verdicts UNCHANGED — the
    existence-MAX fold is duplicate-insensitive and the per-doc groupBy
    emits one row regardless of arrival multiplicity."""
    from incubator_flink_old_spark.operators.text import (
        streaming_ingest_gate,
    )
    from incubator_flink_old_spark.queries.llm_ops30 import _GATE_LANGS
    from incubator_flink_old_spark.queries._util import t

    docs = t(spark, SF, "documents")
    is_new = F.col("doc_id") % 5 == 4
    new = docs.filter(is_new).select("doc_id", "text", "lang")
    corpus = docs.filter(~is_new)
    kw = dict(langs=_GATE_LANGS, k=3, w=4, max_df=25, **_GATE_KW)
    once = sorted(
        map(tuple, streaming_ingest_gate(new, corpus, **kw).collect())
    )
    twice = sorted(
        map(
            tuple,
            streaming_ingest_gate(
                new.unionByName(new), corpus, **kw
            ).collect(),
        )
    )
    assert once == twice and len(once) > 0


def test_checked_bigint_guard(spark):
    """checked_bigint (the q_join_hotkeys emission guard): exact below
    2^63, RAISES past it — matching the ANSI oracle's overflow error
    instead of Spark's silent non-ANSI NULL."""
    from py4j.protocol import Py4JJavaError

    from incubator_flink_old_spark.operators.joins import checked_bigint

    ok = spark.range(1).select(
        checked_bigint(
            F.lit("9223372036854775807").cast("decimal(38,0)"), "boom"
        ).alias("v")
    )
    assert ok.collect()[0]["v"] == 9223372036854775807

    bad = spark.range(1).select(
        checked_bigint(
            F.lit("9223372036854775808").cast("decimal(38,0)"), "boom"
        ).alias("v")
    )
    with pytest.raises((Py4JJavaError, Exception), match="boom"):
        bad.collect()


def test_drift_audit_registry_release(spark):
    """The drift audit's internal digest checkpoint is released by the
    caller's stage: the stage takes exactly that one frame, and once the
    caller has materialized the refresh list inside the scope, the
    digest's RDD leaves the persistent set on exit while the result
    still collects (the q_winnow_drift_refresh pattern)."""
    from incubator_flink_old_spark.operators.text import (
        winnow_drift_audit,
    )
    from incubator_flink_old_spark.session import staged

    def persistent():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    base = spark.createDataFrame(
        [("f1", 20), ("f2", 3)], "fp string, df long"
    )
    delta = spark.createDataFrame([("f1", 10)], "fp string, df long")
    before = persistent()
    with staged() as st:
        out = winnow_drift_audit(
            base,
            delta,
            max_df=25,
            n_base=80,
            n_delta=20,
            min_skew=1.5,
            stage=st,
        )
        assert len(st.frames) == 1
        digest = persistent() - before
        assert len(digest) == 1
        out = out.localCheckpoint(eager=True)
    assert not digest & persistent()  # released for real
    rows = out.collect()
    assert [r["fp"] for r in rows] == ["f1"]  # 20 -> 30 crosses the cap


def test_screen_config_guards(spark):
    """Fail-loud config guards raise ValueError BEFORE any work: a
    non-divisible band config on the near-dup screen (previously a
    bare assert placed after the corpus persists), and a maintained
    winnow index supplied without its cap."""
    from incubator_flink_old_spark.operators.text import (
        neardup_screen_events,
        winnow_screen_events,
    )

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="multiple of band_size"):
        neardup_screen_events(df, df, num_hashes=8, band_size=3)
    with pytest.raises(ValueError, match="max_df"):
        winnow_screen_events(df, None, corpus_index=(df, df), max_df=None)


def test_serve_artifacts_match_per_config(spark):
    """The operating-point refactor is pure plan work: threading ONE
    _serve_artifacts through every config yields hit sets identical to
    the per-config retrain (the grid-exactness laws make the retrains
    value-identical — this pins that the threading preserved it)."""
    from incubator_flink_old_spark.queries.llm_ops26 import (
        _refine_ranked,
        _serve_artifacts,
    )

    arts = _serve_artifacts(spark, SF)
    for np_, rc in ((1, 20), (3, 5)):
        it_a, bt_a = _refine_ranked(
            spark, SF, refine_c=rc, n_probe=np_, artifacts=arts
        )
        it_b, bt_b = _refine_ranked(spark, SF, refine_c=rc, n_probe=np_)
        assert sorted(map(tuple, it_a.collect())) == sorted(
            map(tuple, it_b.collect())
        )
        assert sorted(map(tuple, bt_a.collect())) == sorted(
            map(tuple, bt_b.collect())
        )


# --------------------------------------------------------------------------
# Semantic ingest gate (extra_screens + semantic_screen_events)
# --------------------------------------------------------------------------


def test_semantic_and_lexical_screens_are_complementary(spark):
    """The q_dedup_agreement claim, pinned at the front door: a
    PARAPHRASE (disjoint tokens, near-identical embedding) is caught
    ONLY by the semantic screen; a lexical near-copy with an orthogonal
    embedding ONLY by MinHash — and the composed gate rejects both
    through the same single fold."""
    from incubator_flink_old_spark.operators.similarity import (
        semantic_screen_events,
    )
    from incubator_flink_old_spark.operators.text import (
        streaming_ingest_gate,
    )

    dim = 8
    e1 = [1.0] + [0.0] * (dim - 1)          # corpus doc 1's embedding
    e1b = [0.99, 0.01] + [0.0] * (dim - 2)  # paraphrase: cos ~ 1
    e2 = [0.0, 0.0, 1.0] + [0.0] * (dim - 3)  # orthogonal to e1
    sw = "the a of and to the a of and to "
    t1 = sw + " ".join(f"c{i}" for i in range(26))
    para = sw + " ".join(f"p{i}" for i in range(26))  # disjoint tokens
    corpus = spark.createDataFrame([(1, t1)], "doc_id long, text string")
    cemb = spark.createDataFrame([(1, e1)], "doc_id long, embedding array<float>")
    new = spark.createDataFrame(
        [(10, para, "en"), (20, t1, "en")],
        "doc_id long, text string, lang string",
    )
    nemb = spark.createDataFrame(
        [(10, e1b), (20, e2)], "doc_id long, embedding array<float>"
    )
    sem = semantic_screen_events(
        nemb, cemb, n_cells=1, iters=1, n_probe=1, threshold=0.4,
        key="doc_id",
    ).select("doc_a")
    out = {
        r["doc_id"]: r.asDict()
        for r in streaming_ingest_gate(
            new,
            corpus,
            langs=("en",),
            screens=("neardup",),
            extra_screens={"semdup": sem},
            **_GATE_KW,
        ).collect()
    }
    # paraphrase: semantic-only catch (reversed stopword prefix shares
    # no shingle/band with the corpus text)
    assert out[10]["has_semdup"] and not out[10]["has_neardup"]
    # lexical copy with orthogonal embedding: MinHash-only catch
    assert out[20]["has_neardup"] and not out[20]["has_semdup"]
    assert not out[10]["admit"] and not out[20]["admit"]


def test_extra_screens_guards_and_flag_columns(spark):
    """extra_screens fail-loud guards (shadowing / non-identifier
    names) and the verdict schema contract: has_<name> columns render
    after has_spandup in sorted-name order, all feeding admit."""
    from incubator_flink_old_spark.operators.text import (
        streaming_ingest_gate,
    )

    df = spark.createDataFrame(
        [(1, "the a of and to x y z", "en")],
        "doc_id long, text string, lang string",
    )
    ev = df.select(F.col("doc_id").alias("doc_a"))
    with pytest.raises(ValueError, match="extra_screens"):
        streaming_ingest_gate(
            df, df, screens=(), extra_screens={"span": ev}
        )
    with pytest.raises(ValueError, match="extra_screens"):
        streaming_ingest_gate(
            df, df, screens=(), extra_screens={"not a name": ev}
        )
    out = streaming_ingest_gate(
        df, df, screens=(), extra_screens={"zeta": ev, "alpha": ev}
    )
    assert out.columns == [
        "doc_id", "quality_ok", "lang_ok", "has_neardup", "has_spandup",
        "has_alpha", "has_zeta", "admit",
    ]
    row = out.collect()[0]
    assert row["has_alpha"] and row["has_zeta"] and not row["admit"]


# --------------------------------------------------------------------------
# Per-source quality calibration + token-budget schedule
# --------------------------------------------------------------------------


def test_quality_calibration_uniform_per_source(spark):
    """The calibration claim: every source keeps exactly the same COUNT
    under the percent-rank budget (25 docs/source in the fixture, frac
    0.75 -> (r-1)/24 <= 0.75 -> 19 kept), where the absolute 0.4
    threshold keeps wildly uneven fractions (measured 1..8 of 25).
    Bracketing knobs: frac=1 keeps all, frac=0 keeps exactly the
    per-source best."""
    from incubator_flink_old_spark.operators.text import (
        quality_calibrate,
        quality_score,
    )
    from incubator_flink_old_spark.queries._util import t

    docs = t(spark, SF, "documents")
    cal = quality_calibrate(docs, keep_frac=0.75)
    per_src = {
        r["source"]: r["n"]
        for r in cal.filter("keep")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert len(set(per_src.values())) == 1  # uniform by construction
    abs_keep = {
        r["source"]: r["n"]
        for r in quality_score(docs, carry=("source",))
        .filter("keep")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert len(set(abs_keep.values())) > 1  # the motivation, in-fixture

    n_all = docs.count()
    assert quality_calibrate(docs, keep_frac=1.0).filter("keep").count() == n_all
    best = quality_calibrate(docs, keep_frac=0.0).filter("keep")
    n_src = docs.select("source").distinct().count()
    assert best.count() == n_src


def test_token_budget_schedule_laws(spark):
    """Chunking laws replayed driver-side from the collected schedule:
    chunk_id is exactly (cum - n) div budget, cum_tokens is the exact
    prefix sum in sched order, chunk_id is non-decreasing, the last
    cum equals the corpus total, and a rerun is bit-identical
    (reproducible curriculum)."""
    from incubator_flink_old_spark.operators.text import (
        token_budget_chunks,
    )
    from incubator_flink_old_spark.queries._util import t
    from incubator_flink_old_spark.queries.llm_ops29 import _MIX_WEIGHTS

    docs = t(spark, SF, "documents")
    out = token_budget_chunks(docs, budget=512, weights=dict(_MIX_WEIGHTS))
    rows = sorted(out.collect(), key=lambda r: r["sched_pos"])
    assert rows, "mixture sources missing from fixture"
    cum = 0
    prev_chunk = 0
    for r in rows:
        cum += r["n_tokens"]
        assert r["cum_tokens"] == cum
        assert r["chunk_id"] == (cum - r["n_tokens"]) // 512
        assert r["chunk_id"] >= prev_chunk
        prev_chunk = r["chunk_id"]
    rows2 = sorted(
        token_budget_chunks(
            docs, budget=512, weights=dict(_MIX_WEIGHTS)
        ).collect(),
        key=lambda r: r["sched_pos"],
    )
    assert list(map(tuple, rows)) == list(map(tuple, rows2))


# --------------------------------------------------------------------------
# Round-11 self-review guards (applied before round close)
# --------------------------------------------------------------------------


def test_gate_unknown_corpus_artifacts_key_raises(spark):
    """A typo'd artifact key must fail loudly at the gate, not crash
    deep inside a screen deriving from corpus=None."""
    from incubator_flink_old_spark.operators.text import (
        streaming_ingest_gate,
    )

    df = spark.createDataFrame(
        [(1, "a b c", "en")], "doc_id long, text string, lang string"
    )
    with pytest.raises(ValueError, match="corpus_artifacts"):
        streaming_ingest_gate(
            df, None, corpus_artifacts={"spans": (df, df)}
        )


def test_checked_bigint_lower_bound(spark):
    """The guard covers BOTH bigint bounds: below -2^63 raises instead
    of the silent non-ANSI NULL."""
    from py4j.protocol import Py4JJavaError

    from incubator_flink_old_spark.operators.joins import checked_bigint

    ok = spark.range(1).select(
        checked_bigint(
            F.lit("-9223372036854775808").cast("decimal(38,0)"), "boom"
        ).alias("v")
    )
    assert ok.collect()[0]["v"] == -9223372036854775808
    bad = spark.range(1).select(
        checked_bigint(
            F.lit("-9223372036854775809").cast("decimal(38,0)"), "boom"
        ).alias("v")
    )
    with pytest.raises((Py4JJavaError, Exception), match="boom"):
        bad.collect()


def test_local_rows_guards(spark):
    """A row whose arity differs from the schema fails when the frame is
    built — a short row would otherwise read back as a NULL column (e.g.
    a NULL event-time sentinel that never advances the watermark) and a
    long one would lose values. A sentinel batch round-trips through a
    replay."""
    from incubator_flink_old_spark.sources import local_rows
    from incubator_flink_old_spark.streaming import (
        replay_source,
        stream_result,
    )

    with pytest.raises(ValueError, match=r"\(1,\).*schema fields"):
        local_rows(spark, [(1,)], "a long, b string")
    with pytest.raises(ValueError, match=r"\(1, 'x', 2\).*schema fields"):
        local_rows(spark, [(1, "x", 2)], "a long, b string")
    rows = local_rows(spark, [(1, "x"), (2, "y")], "a long, b string")
    with replay_source([rows]) as stream:
        got = sorted(map(tuple, stream_result(stream, "append").collect()))
    assert got == [(1, "x"), (2, "y")]


def test_token_budget_requires_positive_budget(spark):
    """budget <= 0 raises instead of silently NULLing every chunk_id
    under non-ANSI div."""
    from incubator_flink_old_spark.operators.text import (
        token_budget_chunks,
    )

    df = spark.createDataFrame(
        [(1, "a b", "src0")], "doc_id long, text string, source string"
    )
    with pytest.raises(ValueError, match="budget"):
        token_budget_chunks(df, budget=0, weights={"src0": 1.0})


def test_semantic_screen_all_cells_equals_brute_force(spark):
    """The IVF-family composition law, applied to the new screen:
    probing ALL cells (n_probe = n_cells) makes the screen lossless —
    its event set equals the brute-force cosine screen over the full
    corpus — so the production n_probe's only effect is the documented
    recall trade-off, never the arithmetic."""
    from incubator_flink_old_spark.operators.similarity import (
        as_double_array,
        cosine_safe,
        semantic_screen_events,
    )
    from incubator_flink_old_spark.queries._util import t

    emb = t(spark, SF, "embeddings").limit(200)
    new_v = F.col("vec_id") % 5 == 4
    new_e, corp_e = emb.filter(new_v), emb.filter(~new_v)
    got = sorted(
        (r["doc_a"], r["doc_b"])
        for r in semantic_screen_events(
            new_e, corp_e, n_cells=4, iters=1, n_probe=4, threshold=0.40
        ).collect()
    )
    grid = lambda c: F.transform(
        as_double_array(c), lambda x: F.floor(x * F.lit(1_000_000.0)).cast("long")
    )
    qg = new_e.select(F.col("vec_id").alias("doc_a"), grid("embedding").alias("qk"))
    cg = corp_e.select(F.col("vec_id").alias("doc_b"), grid("embedding").alias("ck"))
    brute = sorted(
        (r["doc_a"], r["doc_b"])
        for r in qg.crossJoin(cg)
        .filter(
            cosine_safe(as_double_array("qk"), as_double_array("ck"))
            >= 0.40
        )
        .collect()
    )
    assert got == brute and len(got) > 0


def test_absorb_with_no_admits_equals_frozen_gate(spark):
    """Absorption edge law: when wave 1 admits NOTHING (every wave-1
    doc fails the lang gate), the merged artifacts are value-identical
    to the frozen ones, and the wave-2 gate over the 'merged' indexes
    emits exactly the frozen gate's verdicts — absorb degenerates to
    no-op, never to corruption (empty delta frames union/merge
    cleanly)."""
    from incubator_flink_old_spark.operators.text import (
        merge_winnow_stats,
        neardup_corpus_artifacts,
        streaming_ingest_gate,
        winnow_corpus_index,
    )
    from incubator_flink_old_spark.queries._util import t

    docs = t(spark, SF, "documents").limit(150)
    m5 = F.col("doc_id") % 5
    corpus0 = docs.filter(m5 <= 2).select("doc_id", "text")
    # a lang allowlist nothing passes -> zero admits
    wave1 = docs.filter(m5 == 3).select("doc_id", "text", "lang")
    wave2 = docs.filter(m5 == 4).select("doc_id", "text", "lang")
    kw = dict(langs=("xx",), k=3, w=4, max_df=25, **_GATE_KW)

    toks0, bands0 = neardup_corpus_artifacts(corpus0, 8, 4)
    fps0, stats0 = winnow_corpus_index(corpus0, k=3, w=4)
    frozen = {"neardup": (toks0, bands0), "span": (fps0, stats0)}
    g1 = streaming_ingest_gate(wave1, None, corpus_artifacts=frozen, **kw)
    assert g1.filter("admit").count() == 0
    admitted = wave1.join(
        g1.filter("admit").select("doc_id"), on="doc_id"
    )
    toks_d, bands_d = neardup_corpus_artifacts(admitted, 8, 4)
    fps_d, stats_d = winnow_corpus_index(admitted, k=3, w=4)
    merged = {
        "neardup": (
            toks0.unionByName(toks_d),
            bands0.unionByName(bands_d),
        ),
        "span": (
            fps0.unionByName(fps_d),
            merge_winnow_stats(stats0, stats_d),
        ),
    }
    a = sorted(
        map(
            tuple,
            streaming_ingest_gate(
                wave2, None, corpus_artifacts=merged, **kw
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            streaming_ingest_gate(
                wave2, None, corpus_artifacts=frozen, **kw
            ).collect(),
        )
    )
    assert a == b and len(a) > 0
