"""Round-7 hybrid-retrieval laws (VERDICT r06 item 5): the lexical ∪
IVF-dense candidate union must (a) degrade to the exact global dense
top-k when the index arm is unpruned — all cells probed, dense budget ≥
corpus — and (b) dominate the lexical-only two-stage recall at every
stage-1 N, because the candidate set is a superset and the rerank is a
deterministic total order on the same key (the containment law)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(not os.path.isdir(SF), reason="no testdata")


def _frames(spark):
    from incubator_flink_old_spark.queries._util import t

    return t(spark, SF, "documents"), t(spark, SF, "embeddings")


def _global_dense_topk(docs, emb, k):
    """Exact global top-k by (dense_ip desc, doc_id) under the SHIPPED
    PRF vector — the truth every hybrid/two-stage recall compares to."""
    from incubator_flink_old_spark.operators.retrieval import bm25_topk
    from incubator_flink_old_spark.operators.similarity import dot
    from incubator_flink_old_spark.queries.llm_ops18 import (
        _TS_FEEDBACK,
        _TS_TERMS,
        _grid_vec,
        _prf_qvec,
    )

    eg = emb.select("vec_id", _grid_vec().alias("k"))
    cand = bm25_topk(docs, terms=_TS_TERMS, top_k=_TS_FEEDBACK)
    qvec = _prf_qvec(cand, eg)
    scored = (
        eg.crossJoin(F.broadcast(qvec))
        .select(
            F.col("vec_id").alias("doc_id"),
            dot(
                F.col("qk"), F.transform("k", lambda x: x.cast("double"))
            )
            .cast("long")
            .alias("dense_ip"),
        )
    )
    return [
        r.doc_id
        for r in scored.orderBy(F.col("dense_ip").desc(), "doc_id")
        .limit(k)
        .collect()
    ]


def test_hybrid_unpruned_equals_global_dense_topk(spark):
    """All cells probed + dense budget ≥ corpus ⇒ the dense arm is an
    unpruned corpus scan, so the hybrid's final top-k IS the global
    dense top-k — pruning only ever removes candidates, and the rerank
    key is identical."""
    from incubator_flink_old_spark.queries.llm_ops11 import _N_CELLS
    from incubator_flink_old_spark.queries.llm_ops26 import _hybrid_topk

    docs, emb = _frames(spark)
    n = emb.count()
    got = [
        r.doc_id
        for r in _hybrid_topk(
            docs, emb, dense_n=n, n_probe=_N_CELLS, dense_refine=n
        ).collect()
    ]
    assert got == _global_dense_topk(docs, emb, len(got))


def test_hybrid_recall_dominates_two_stage(spark):
    """Superset law: hybrid(N) candidates ⊇ two_stage(N) candidates and
    both rerank by the same deterministic key, so hybrid recall@k ≥
    lexical-only recall@k at every N — the property the round-6 sweep
    showed fixed-N pruning alone loses."""
    from incubator_flink_old_spark.queries.llm_ops18 import (
        _TS_FINAL,
        _two_stage_topk,
    )
    from incubator_flink_old_spark.queries.llm_ops26 import _hybrid_topk

    docs, emb = _frames(spark)
    truth = set(_global_dense_topk(docs, emb, _TS_FINAL))
    dominated = False
    for n in (5, 15):
        lex = {
            r.doc_id
            for r in _two_stage_topk(docs, emb, n_candidates=n).collect()
        }
        hyb = {
            r.doc_id
            for r in _hybrid_topk(docs, emb, n_candidates=n).collect()
        }
        assert len(hyb & truth) >= len(lex & truth), n
        dominated = dominated or len(hyb & truth) > len(lex & truth)
    # at the smallest N the index arm must actually ADD recall on this
    # fixture (strictly greater somewhere), else the test is vacuous
    assert dominated


def test_refine_recall_dominates_and_monotone(spark):
    """Refine laws: (1) refine ranks by the SAME key as the ground
    truth, so hits = |truth ∩ shortlist| exactly — refine recall
    dominates plain IVF+SQ8 recall (a truth member at code rank k+1..C
    is recovered); (2) recall is monotone nondecreasing in refine_c
    (shortlists nest)."""
    from incubator_flink_old_spark.queries import QUERIES, load_all_queries
    from incubator_flink_old_spark.queries.llm_ops26 import (
        _ivfsq8_refine_recall_df,
    )

    load_all_queries()
    plain = {
        r.q_id: r.hits
        for r in QUERIES["q_ann_recall_ivfsq8"](spark, SF).collect()
    }
    prev_total = None
    for c in (5, 20, 80):
        ref = {
            r.q_id: r.hits
            for r in _ivfsq8_refine_recall_df(
                spark, SF, refine_c=c
            ).collect()
        }
        total = sum(ref.values())
        if c == 5:
            # refine_c = k: the shortlist IS the code top-k, so refine
            # re-orders it but selects the same set — identical hits
            assert ref == plain
        else:
            assert all(ref[q] >= plain[q] for q in plain)
        if prev_total is not None:
            assert total >= prev_total
        prev_total = total


def test_refine_unbounded_equals_exact_over_cells(spark):
    """refine_c ≥ pool ⇒ the code scan stops mattering entirely: the
    result is the exact full-precision ranking over the probed cells —
    quantization error fully removed, only cell-miss remains."""
    from pyspark.sql import functions as F

    from incubator_flink_old_spark.operators.similarity import (
        grid_ivf,
        grid_probes,
        grid_sqdist,
    )
    from incubator_flink_old_spark.queries._util import t
    from incubator_flink_old_spark.queries.llm_ops11 import (
        _ITERS,
        _N_CELLS,
        _N_QUERIES,
        _N_PROBE,
        _TOPK,
    )
    from incubator_flink_old_spark.queries.llm_ops18 import _grid_vec
    from incubator_flink_old_spark.queries.llm_ops26 import (
        _ivfsq8_refine_recall_df,
    )
    from pyspark.sql import Window

    emb = t(spark, SF, "embeddings")
    n = emb.count()
    got = {
        r.q_id: r.hits
        for r in _ivfsq8_refine_recall_df(spark, SF, refine_c=n).collect()
    }
    # exact ranking over the probed cells, computed independently
    cells, centers = grid_ivf(emb, n_cells=_N_CELLS, iters=_ITERS)
    eg = emb.select("vec_id", _grid_vec().alias("k"))
    kd = eg.select(
        "vec_id", F.transform("k", lambda x: x.cast("double")).alias("kd")
    )
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    pool = (
        grid_probes(queries, centers, n_probe=_N_PROBE)
        .join(cells, on="cell")
        .select("q_id", "vec_id")
    )
    qk = kd.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("kd").alias("qv")
    )
    w = Window.partitionBy("q_id").orderBy("d", "vec_id")
    exact = (
        pool.join(kd, on="vec_id")
        .join(F.broadcast(qk), on="q_id")
        .select(
            "q_id", "vec_id", grid_sqdist(F.col("qv"), F.col("kd")).alias("d")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOPK)
        .select(F.col("q_id").alias("iq"), F.col("vec_id").alias("ivec"))
    )
    bt = (
        F.broadcast(qk)
        .crossJoin(kd.select("vec_id", F.col("kd").alias("cv")))
        .select(
            "q_id", "vec_id", grid_sqdist(F.col("qv"), F.col("cv")).alias("d")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOPK)
        .select("q_id", "vec_id")
    )
    want = {
        r.q_id: r.hits
        for r in bt.join(
            exact, (bt.q_id == exact.iq) & (bt.vec_id == exact.ivec), "left"
        )
        .groupBy("q_id")
        .agg(F.count("ivec").alias("hits"))
        .collect()
    }
    assert got == want


def test_grid_assign_incremental_equals_batch(spark):
    """Index-maintenance laws: (1) assignment is row-local, so
    assigning base and delta SEPARATELY to frozen centers equals one
    batch assignment of their union — the property that makes
    incremental maintenance exact, not approximate; (2) grid_assign_map
    against grid_ivf's own centers reproduces grid_ivf's final cells —
    the maintenance path and the training path share one arithmetic."""
    from incubator_flink_old_spark.operators.similarity import (
        grid_assign_map,
        grid_ivf,
    )
    from incubator_flink_old_spark.queries._util import t
    from incubator_flink_old_spark.queries.llm_ops11 import (
        _ITERS,
        _N_CELLS,
    )

    emb = t(spark, SF, "embeddings")
    base = emb.filter(F.col("vec_id") % 5 != 4)
    delta = emb.filter(F.col("vec_id") % 5 == 4)
    cells, centers = grid_ivf(base, n_cells=_N_CELLS, iters=_ITERS)
    rows = centers.collect()

    batch = {
        (r.vec_id, r.cell) for r in grid_assign_map(emb, rows).collect()
    }
    incremental = {
        (r.vec_id, r.cell) for r in grid_assign_map(base, rows).collect()
    } | {(r.vec_id, r.cell) for r in grid_assign_map(delta, rows).collect()}
    assert incremental == batch

    # (2) training's own final assignment is reproduced by the
    # maintenance primitive
    trained = {(r.vec_id, r.cell) for r in cells.collect()}
    maintained = {
        (r.vec_id, r.cell) for r in grid_assign_map(base, rows).collect()
    }
    assert maintained == trained


def test_bm25_merged_stats_bit_identical(spark):
    """Lexical index-maintenance law: merged per-source corpus stats
    (integer sums; avgdl from the merged longs) rank the union corpus
    BIT-IDENTICALLY to a full recompute — every (doc_id, bm25) row
    equal, not just the top-k set."""
    from incubator_flink_old_spark.operators.retrieval import (
        bm25_index_stats,
        bm25_topk,
        merge_bm25_stats,
    )
    from incubator_flink_old_spark.queries._util import t
    from incubator_flink_old_spark.queries.llm_ops18 import _TS_TERMS

    docs = t(spark, SF, "documents")
    base = docs.filter(F.col("doc_id") % 5 != 4)
    delta = docs.filter(F.col("doc_id") % 5 == 4)
    merged = merge_bm25_stats(
        bm25_index_stats(base, _TS_TERMS),
        bm25_index_stats(delta, _TS_TERMS),
    )
    k = 200  # deep cut: compare well past the headline top-20
    inc = [
        (r.doc_id, r.bm25)
        for r in bm25_topk(
            docs, terms=_TS_TERMS, top_k=k, index_stats=merged
        ).collect()
    ]
    full = [
        (r.doc_id, r.bm25)
        for r in bm25_topk(docs, terms=_TS_TERMS, top_k=k).collect()
    ]
    assert inc == full
    # and the merged scalar really is the union scalar, bit-exactly
    ms, md = merged
    fs = docs.agg(F.count(F.lit(1)).alias("n")).first()
    got = ms.first()
    assert got.n == fs.n


def test_sq_codes_bounds_injection_identity(spark):
    """Refactor guard: encoding a corpus against ITS OWN bounds with
    clamping enabled is the identity — every value is in-bounds, so the
    clamped/injected path must reproduce the original _sq_codes
    byte-for-byte (the q_ann_recall_sq8 family rides this)."""
    from incubator_flink_old_spark.queries._util import t
    from incubator_flink_old_spark.queries.llm_ops18 import (
        _grid_vec,
        _sq_bounds,
        _sq_codes,
    )

    eg = t(spark, SF, "embeddings").select("vec_id", _grid_vec().alias("k"))
    plain = {r.vec_id: r.code for r in _sq_codes(eg).collect()}
    injected = {
        r.vec_id: r.code
        for r in _sq_codes(eg, bounds=_sq_bounds(eg), clamp=True).collect()
    }
    assert injected == plain


def test_hybrid_prebuilt_index_identity(spark):
    """Index-as-a-table law: injecting a prebuilt (cells, centers) pair
    — in production maintained by grid_assign_map deltas and amortized
    across queries — must reproduce the inline-retrain result exactly
    (the index holds the same data either way)."""
    from incubator_flink_old_spark.operators.similarity import grid_ivf
    from incubator_flink_old_spark.queries.llm_ops11 import (
        _ITERS,
        _N_CELLS,
    )
    from incubator_flink_old_spark.queries.llm_ops26 import _hybrid_topk

    docs, emb = _frames(spark)
    idx = grid_ivf(emb, n_cells=_N_CELLS, iters=_ITERS)
    idx = (idx[0].localCheckpoint(eager=True), idx[1].localCheckpoint(eager=True))
    inline = [
        (r.doc_id, r.bm25, r.dense_ip)
        for r in _hybrid_topk(docs, emb).collect()
    ]
    injected = [
        (r.doc_id, r.bm25, r.dense_ip)
        for r in _hybrid_topk(docs, emb, index=idx).collect()
    ]
    assert injected == inline


def test_grid_assign_map_equals_join_form(spark):
    """The streaming-safe map-only assignment (centers as a literal
    array, fold-argmax) must reproduce the join+window form
    bit-for-bit on every vector — including the strict-improvement
    fold's tie-break matching ROW_NUMBER's (sim desc, cell asc)."""
    from incubator_flink_old_spark.operators.similarity import (
        grid_assign_map,
        grid_ivf,
    )
    from tests.ann_join_reference import grid_assign
    from incubator_flink_old_spark.queries._util import t
    from incubator_flink_old_spark.queries.llm_ops11 import (
        _ITERS,
        _N_CELLS,
    )

    emb = t(spark, SF, "embeddings")
    _, centers = grid_ivf(emb, n_cells=_N_CELLS, iters=_ITERS)
    rows = centers.collect()
    joined = {(r.vec_id, r.cell) for r in grid_assign(emb, centers).collect()}
    mapped = {
        (r.vec_id, r.cell) for r in grid_assign_map(emb, rows).collect()
    }
    assert mapped == joined


def test_grid_assign_map_rejects_empty_centers(spark):
    """ADVICE r07: an empty centers list is a caller bug — the fold
    would otherwise silently assign every row cell=-1 while the join
    form returns no rows."""
    import pytest

    from incubator_flink_old_spark.operators.similarity import (
        grid_assign_map,
    )
    from incubator_flink_old_spark.queries._util import t

    emb = t(spark, SF, "embeddings")
    with pytest.raises(ValueError, match="centers_rows is empty"):
        grid_assign_map(emb, [])


def test_merge_bm25_stats_empty_corpus_raises(spark):
    """ADVICE r07: merging only empty sources must fail loudly (n=0 →
    avgdl would be NULL and silently NULL every bm25 score)."""
    import pytest

    from incubator_flink_old_spark.operators.retrieval import (
        bm25_index_stats,
        merge_bm25_stats,
    )
    from incubator_flink_old_spark.queries._util import t
    from incubator_flink_old_spark.queries.llm_ops18 import _TS_TERMS

    docs = t(spark, SF, "documents").filter("doc_id < 0")  # empty
    stats = bm25_index_stats(docs, _TS_TERMS)
    scalars, _ = merge_bm25_stats(stats, stats)
    with pytest.raises(Exception, match="merged corpus is empty"):
        scalars.collect()


def test_hybrid_code_arm_unbounded_equals_full_precision(spark):
    """VERDICT r07 item 3 law: with dense_refine ≥ the probed pool, the
    SQ8-code stage-A ranking cannot drop anything the full-precision
    refine would keep, so the code-scan dense arm is IDENTICAL to the
    full-precision arm — row for row, at the shipped n_probe."""
    from incubator_flink_old_spark.queries.llm_ops26 import _hybrid_topk

    docs, emb = _frames(spark)
    n = emb.count()
    coded = [
        (r.doc_id, r.bm25, r.dense_ip)
        for r in _hybrid_topk(docs, emb, dense_refine=n).collect()
    ]
    full = [
        (r.doc_id, r.bm25, r.dense_ip)
        for r in _hybrid_topk(docs, emb, dense_via_codes=False).collect()
    ]
    assert coded == full


def test_hybrid_code_arm_default_recall_not_below_two_stage(spark):
    """The SHIPPED configuration (code scan + 4x refine shortlist) must
    keep the hybrid dominance that motivated the arm: recall ≥ the
    lexical-only two-stage at the default candidate count."""
    from incubator_flink_old_spark.queries.llm_ops18 import (
        _TS_FINAL,
        _two_stage_topk,
    )
    from incubator_flink_old_spark.queries.llm_ops26 import _hybrid_topk

    docs, emb = _frames(spark)
    truth = set(_global_dense_topk(docs, emb, _TS_FINAL))
    lex = {r.doc_id for r in _two_stage_topk(docs, emb).collect()}
    hyb = {r.doc_id for r in _hybrid_topk(docs, emb).collect()}
    assert len(hyb & truth) >= len(lex & truth)
