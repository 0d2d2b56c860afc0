"""Plan-shape audit for the round-7 hybrid retrieval (guardrail: every
new layout-adjacent query lands with its plan pinned): the candidate
arms must stay bounded — cell probe and candidate joins equi-keyed,
tiny sides broadcast, no shuffle cartesian over the corpus — the shapes
the 100 TB posture rests on."""

from __future__ import annotations

import os

import pytest

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(not os.path.isdir(SF), reason="no testdata")


def test_hybrid_no_cartesian_and_broadcasts(spark):
    """The only nested-loop joins allowed are the deliberate 1-row qvec
    / n_cells-row broadcasts; the corpus-sized paths (token counts,
    cell pool, candidate scoring) must ride hash joins."""
    from incubator_flink_old_spark.plans import explain_str
    from incubator_flink_old_spark.queries.llm_ops26 import (
        q_retrieval_hybrid,
    )

    plan = explain_str(q_retrieval_hybrid(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_hybrid_final_is_take_ordered(spark):
    """Both candidate arms and the final cut must be TakeOrdered (per-
    partition top-k + merge), never a single-partition global sort —
    the difference between a bounded merge and a corpus sort at scale."""
    from incubator_flink_old_spark.plans import explain_str
    from incubator_flink_old_spark.queries.llm_ops26 import (
        q_retrieval_hybrid,
    )

    plan = explain_str(q_retrieval_hybrid(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_hybrid_scan_prunes_columns(spark):
    """Scans feed only the columns the query touches — at 100 TB an
    unprojected column class dominates IO."""
    from incubator_flink_old_spark.plans import scan_pushdown
    from incubator_flink_old_spark.queries.llm_ops26 import (
        q_retrieval_hybrid,
    )

    info = scan_pushdown(q_retrieval_hybrid(spark, SF))
    assert info["read_schema"], "no scans found"


def test_refine_no_cartesian_and_equijoined(spark):
    """The refine tier must keep the composed shape: probed-cell pool
    and shortlist ride equi-joins, query-side frames broadcast, and no
    shuffle cartesian appears (the brute-force arm is the deliberate
    20-row broadcast nested loop)."""
    from incubator_flink_old_spark.plans import explain_str
    from incubator_flink_old_spark.queries.llm_ops26 import (
        q_ann_recall_ivfsq8_refine,
    )

    plan = explain_str(q_ann_recall_ivfsq8_refine(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_ivf_incremental_no_cartesian(spark):
    """The maintenance pass must stay map-shaped: the frozen centers are
    folded into every assignment (grid_assign_map — a literal below the
    element budget), so the plan has no join of any kind, no shuffle
    cartesian, and the per-cell audit is its only exchange."""
    from incubator_flink_old_spark.plans import explain_str
    from incubator_flink_old_spark.queries.llm_ops26 import (
        q_ivf_incremental,
    )

    plan = explain_str(q_ivf_incremental(spark, SF))
    tree = plan.split("\n\n")[0]
    assert "CartesianProduct" not in plan
    assert "Join" not in tree
    assert tree.count("Exchange") == 1


def test_bm25_incremental_scan_prunes_text_only(spark):
    """The incremental BM25 path reads (doc_id, text) — never the
    documents table's metadata columns; at 100 TB an unprojected column
    class dominates IO."""
    from incubator_flink_old_spark.plans import scan_pushdown
    from incubator_flink_old_spark.queries.llm_ops26 import (
        q_bm25_incremental,
    )

    info = scan_pushdown(q_bm25_incremental(spark, SF))
    assert info["read_schema"]
    # tokenization scans read (doc_id, text); doc-COUNT scans prune all
    # the way to doc_id alone — nothing ever reads a metadata column
    assert any("text" in rs for rs in info["read_schema"])
    for rs in info["read_schema"]:
        assert "url" not in rs and "lang" not in rs


def test_sq8_incremental_map_only_shape(spark):
    """The frozen-bounds delta encode must be map-shaped: the 64-row
    bounds table broadcasts, no shuffle cartesian, and the embeddings
    scan projects only (vec_id, embedding)."""
    from incubator_flink_old_spark.plans import explain_str, scan_pushdown
    from incubator_flink_old_spark.queries.llm_ops26 import (
        q_sq8_incremental,
    )

    df = q_sq8_incremental(spark, SF)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    info = scan_pushdown(df)
    assert info["read_schema"]
    for rs in info["read_schema"]:
        assert "label" not in rs  # embeddings' unused column stays unread


def test_stream_ivf_assign_is_pure_map(spark):
    """The streaming assignment must be a pure projection over the
    stream — no Exchange, no join, no state operator: the property that
    lets it run at ingest throughput."""
    from incubator_flink_old_spark.operators.similarity import (
        grid_assign_map,
        grid_ivf,
    )
    from incubator_flink_old_spark.plans import explain_str
    from incubator_flink_old_spark.queries._util import t

    emb = t(spark, SF, "embeddings")
    _, centers = grid_ivf(emb, n_cells=4, iters=1)
    out = grid_assign_map(emb, centers.collect())
    plan = explain_str(out)
    for op in ("Exchange", "Join", "Window", "Aggregate"):
        assert op not in plan, op


def test_hybrid_code_arm_scans_codes_not_grid(spark):
    """VERDICT r07 item 3 plan pin: in production the SQ8 codes are a
    maintained TABLE (q_sq8_incremental). With the codes injected as a
    parquet table, the hybrid dense arm's stage-A shortlist must scan
    the CODES parquet (8x-compressed) and never touch the
    full-precision grid/embedding bytes — those are read only by the
    bounded refine/rerank joins downstream."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from incubator_flink_old_spark.plans import explain_str
    from incubator_flink_old_spark.queries._util import t
    from incubator_flink_old_spark.queries.llm_ops18 import (
        _grid_vec,
        _sq_bounds,
        _sq_codes,
    )
    from incubator_flink_old_spark.queries.llm_ops26 import (
        _hy_code_shortlist,
    )

    emb = t(spark, SF, "embeddings")
    eg = emb.select("vec_id", _grid_vec().alias("k"))
    tmp = tempfile.mkdtemp(prefix="t2_hybrid_codes_")
    try:
        bounds = _sq_bounds(eg)
        _sq_codes(eg, bounds=bounds).write.parquet(f"{tmp}/codes")
        bounds.write.parquet(f"{tmp}/bounds")
        codes_df = spark.read.parquet(f"{tmp}/codes")
        bounds_df = spark.read.parquet(f"{tmp}/bounds")
        pool = emb.select("vec_id").limit(100)
        from incubator_flink_old_spark.queries.llm_ops11 import _DIM

        qvec = spark.range(1).select(
            F.array(*[F.lit(1.0)] * _DIM).alias("qk")
        )
        plan = explain_str(
            _hy_code_shortlist(pool, codes_df, bounds_df, qvec, 20)
        )
        assert f"{tmp}/codes" in plan, "stage A does not scan the codes table"
        assert "TakeOrderedAndProject" in plan
        # the full-precision vectors never enter stage A: no scan in
        # this plan may read the embedding column (the only
        # embeddings-parquet scan is the pool's vec_id projection)
        for line in plan.splitlines():
            if "ReadSchema" in line:
                assert "embedding" not in line, line
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
