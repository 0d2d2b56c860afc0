"""Round-13 optimization laws (VERDICT r12 items 1 and 6, ADVICE r12):

- The literal-array fold size gate: every collected-rows map form
  (grid_assign_map, grid_pq_encode_map, sq8_encode_map,
  semantic_screen_events_map, the trainers' internal assigns, and the
  ivf_topk / pq_topk / ivf_pq_topk compositions over them) must
  produce BIT-IDENTICAL results through both arms — the F.expr-parsed
  literal below the element budget and the one-row broadcast frame above
  it — including on caller frames that already carry a column named
  like the broadcast arm's helper. The budget is monkeypatched to 0 to
  force the broadcast arm on fixture-sized indexes.
- Plan pins: at fixture sizes the fold arm stays literal (no join node
  in the assignment plan); above the budget the plan carries the
  broadcast join instead of a multi-MB parsed literal.
- _spread_narrow must NOT fire on wide scans (the CPU-inflation
  watchdog: a silently-firing spread at scale would multiply engine CPU).
- semantic_screen_events' empty-index branch must emit the SAME schema
  as the non-empty path (doc_b typed from the corpus side — ADVICE r12).
- stateful_latest must reject non-integer order columns loudly
  (ADVICE r12: the argmax compares raw values; a float order column
  would silently change tie behavior vs the old int() walk).
- Bad inputs fail loudly, also under ``python -O``: grid_pq /
  grid_pq_encode_map reject an m that does not divide d.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(not os.path.isdir(SF), reason="no testdata")


def _emb(spark):
    from incubator_flink_old_spark.queries._util import t

    return t(spark, SF, "embeddings")


def _trained(spark):
    from incubator_flink_old_spark.operators.similarity import grid_ivf

    cells, centers = grid_ivf(_emb(spark), n_cells=4, iters=1)
    return cells, centers


def test_grid_assign_map_broadcast_arm_equals_literal(spark, monkeypatch):
    from incubator_flink_old_spark.operators import similarity
    from incubator_flink_old_spark.operators.similarity import grid_assign_map
    from tests.ann_join_reference import grid_assign

    _, centers = _trained(spark)
    rows = centers.collect()
    emb = _emb(spark)
    # the second input already carries the broadcast arm's helper name
    frames = (emb, emb.withColumn("__centers", F.lit(1)))

    def arm():
        return [
            {(r.vec_id, r.cell) for r in grid_assign_map(df, rows).collect()}
            for df in frames
        ]

    lit_arm = arm()
    joined = {(r.vec_id, r.cell) for r in grid_assign(emb, centers).collect()}
    monkeypatch.setattr(similarity, "_FOLD_LITERAL_MAX_ELEMS", 0)
    assert arm() == lit_arm == [joined, joined]


def test_grid_assign_map_plan_arms(spark, monkeypatch):
    """Fold arm at fixture sizes = literal (NO join in the plan); above
    the budget = a broadcast join instead of a parsed literal."""
    from incubator_flink_old_spark.operators import similarity
    from incubator_flink_old_spark.operators.similarity import grid_assign_map

    _, centers = _trained(spark)
    rows = centers.collect()
    emb = _emb(spark)
    lit_plan = grid_assign_map(emb, rows)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in lit_plan
    monkeypatch.setattr(similarity, "_FOLD_LITERAL_MAX_ELEMS", 0)
    bc_plan = grid_assign_map(emb, rows)._jdf.queryExecution().executedPlan().toString()
    assert "Join" in bc_plan


def test_grid_pq_encode_map_broadcast_arm_equals_literal(spark, monkeypatch):
    from incubator_flink_old_spark.operators import similarity
    from incubator_flink_old_spark.operators.similarity import (
        grid_pq,
        grid_pq_encode_map,
    )

    emb = _emb(spark)
    _, books = grid_pq(emb, m=4, n_centroids=4, iters=1)
    rows = books.collect()
    # the second input's key column has the broadcast arm's helper name
    inputs = (
        (emb, "vec_id"),
        (emb.withColumnRenamed("vec_id", "__books"), "__books"),
    )

    def arm():
        return [
            {tuple(r) for r in grid_pq_encode_map(df, rows, m=4, key=key).collect()}
            for df, key in inputs
        ]

    lit_arm = arm()
    assert lit_arm[0] == lit_arm[1]
    monkeypatch.setattr(similarity, "_FOLD_LITERAL_MAX_ELEMS", 0)
    assert arm() == lit_arm


def test_sq8_encode_map_broadcast_arm_equals_literal(spark, monkeypatch):
    from incubator_flink_old_spark.operators import similarity
    from incubator_flink_old_spark.operators.similarity import sq8_encode_map
    from incubator_flink_old_spark.operators.text import _spread_narrow  # noqa: F401

    emb = _emb(spark)
    # the batch bounds builder: per-dim min/max over the grid-quantized corpus
    k = F.transform(
        similarity.as_double_array("embedding"),
        lambda x: F.floor(x * F.lit(1_000_000.0)).cast("long"),
    )
    bounds = (
        emb.select(F.posexplode(k).alias("p0", "v"))
        .groupBy((F.col("p0") + 1).alias("p"))
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
        .collect()
    )
    # the second input already carries the broadcast arm's helper names
    frames = (emb, emb.withColumn("__lo", F.lit(1)).withColumn("__hi", F.lit(2)))

    def arm():
        return [
            {(r.vec_id, r.p, r.c) for r in sq8_encode_map(df, bounds).collect()}
            for df in frames
        ]

    lit_arm = arm()
    assert lit_arm[0] == lit_arm[1]
    monkeypatch.setattr(similarity, "_FOLD_LITERAL_MAX_ELEMS", 0)
    assert arm() == lit_arm


def test_grid_trainers_broadcast_arm_equals_literal(spark, monkeypatch):
    """grid_ivf / grid_pq retrain identically through the broadcast arm:
    same seeds, same per-iteration centers, same final assignment — and
    the search compositions over them (ivf_topk, pq_topk, ivf_pq_topk)
    return identical rows through either arm and under input
    repartitioning."""
    from incubator_flink_old_spark.operators import similarity
    from incubator_flink_old_spark.operators.similarity import (
        grid_ivf,
        grid_pq,
        ivf_pq_topk,
        ivf_topk,
        pq_topk,
    )

    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )

    def searches(qs, corpus):
        return [
            {tuple(r) for r in out.collect()}
            for out in (
                ivf_topk(qs, corpus, k=5, n_cells=4, n_probe=2, kmeans_iters=2),
                pq_topk(qs, corpus, k=5, m=4, n_centroids=4, kmeans_iters=1),
                ivf_pq_topk(
                    qs, corpus, k=5, n_cells=4, n_probe=2, m=4,
                    n_centroids=4, kmeans_iters=1,
                ),
            )
        ]

    found = searches(q, emb)
    assert all(len(rows) == 5 * 5 for rows in found)
    assert searches(q.repartition(3), emb.repartition(7)) == found
    cells_l, centers_l = grid_ivf(emb, n_cells=4, iters=2)
    cl = {(r.vec_id, r.cell) for r in cells_l.collect()}
    ctl = {(r.cell, tuple(r.cv)) for r in centers_l.collect()}
    codes_l, books_l = grid_pq(emb, m=4, n_centroids=4, iters=1)
    col = {(r.vec_id, r.j, r.code) for r in codes_l.collect()}
    bol = {(r.j, r.cid, tuple(r.bv)) for r in books_l.collect()}

    monkeypatch.setattr(similarity, "_FOLD_LITERAL_MAX_ELEMS", 0)
    cells_b, centers_b = grid_ivf(emb, n_cells=4, iters=2)
    assert {(r.vec_id, r.cell) for r in cells_b.collect()} == cl
    assert {(r.cell, tuple(r.cv)) for r in centers_b.collect()} == ctl
    codes_b, books_b = grid_pq(emb, m=4, n_centroids=4, iters=1)
    assert {(r.vec_id, r.j, r.code) for r in codes_b.collect()} == col
    assert {(r.j, r.cid, tuple(r.bv)) for r in books_b.collect()} == bol
    assert searches(q, emb) == found


def test_semantic_screen_events_map_broadcast_arm_equals_literal(
    spark, monkeypatch
):
    from incubator_flink_old_spark.operators import similarity
    from incubator_flink_old_spark.operators.similarity import (
        semantic_screen_events_map,
    )

    emb = _emb(spark)
    new = emb.filter(F.col("vec_id") % 5 == 3)
    corp = emb.filter(F.col("vec_id") % 5 != 3)
    cells, centers = similarity.grid_ivf(corp, n_cells=4, iters=1)
    rows = centers.collect()

    def run(carry=()):
        return {
            (r.doc_a, r.doc_b, round(r.cos, 12))
            for r in semantic_screen_events_map(
                new.withColumn("__centers", F.lit(7)),
                rows,
                cells,
                corp,
                n_probe=2,
                threshold=0.3,
                carry=carry,
            ).collect()
        }

    lit_arm = run()
    # a carry column named like the broadcast arm's helper
    assert run(carry=("__centers",)) == lit_arm
    monkeypatch.setattr(similarity, "_FOLD_LITERAL_MAX_ELEMS", 0)
    assert run() == lit_arm
    assert run(carry=("__centers",)) == lit_arm


def test_spread_narrow_wide_scan_is_noop(spark):
    """CPU-inflation watchdog (VERDICT r12 item 6): a frame already at
    (or past) a quarter of cluster width must pass through UNTOUCHED —
    the spread may only fire on scans ≥4× narrower than the cluster, so
    at production scan widths it is a plan-decided no-op."""
    from incubator_flink_old_spark.operators.text import _spread_narrow

    width = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 1000, 1, numPartitions=max(1, width // 2))
    assert _spread_narrow(wide) is wide
    exact = spark.range(0, 1000, 1, numPartitions=width)
    assert _spread_narrow(exact) is exact
    narrow = spark.range(0, 1000, 1, numPartitions=1)
    if width >= 4:
        assert _spread_narrow(narrow) is not narrow


def test_semantic_screen_events_empty_index_schema(spark):
    """ADVICE r12: the empty-centers early return must carry the SAME
    schema as the non-empty path — doc_b typed from the CORPUS key."""
    from incubator_flink_old_spark.operators.similarity import (
        semantic_screen_events,
    )

    emb = _emb(spark)
    new = emb.filter(F.col("vec_id") % 5 == 3)
    # corpus key deliberately narrower than the new side's long
    corp = emb.filter(F.col("vec_id") % 5 != 3).select(
        F.col("vec_id").cast("int").alias("vec_id"), "embedding"
    )
    cells, centers = (
        corp.select(F.col("vec_id"), F.lit(1).cast("int").alias("cell")).filter(
            F.lit(False)
        ),
        spark.range(0).select(
            F.lit(1).cast("int").alias("cell"),
            F.array(F.lit(0).cast("long")).alias("cv"),
        ),
    )
    out = semantic_screen_events(
        new, corp, n_probe=2, threshold=0.3, index=(cells, centers)
    )
    assert out.count() == 0
    types = dict(out.dtypes)
    assert types["doc_a"] == "bigint"  # the new side's key
    assert types["doc_b"] == "int"  # the corpus side's key, not new_emb's
    assert [f[0] for f in out.dtypes] == ["doc_a", "doc_b", "cos"]


def test_stateful_latest_rejects_float_order(spark):
    """ADVICE r12: a float order column would silently change tie
    behavior (the old walk int()-truncated; the argmax compares raw) —
    fail loudly instead."""
    from incubator_flink_old_spark.streaming import stateful_latest

    df = spark.range(3).select(
        F.col("id").alias("user_id"),
        (F.col("id") * 1.5).alias("ts_us"),  # double, not long
        F.col("id").alias("event_id"),
        F.lit("click").alias("event_type"),
        F.lit(1.0).alias("value"),
    )
    with pytest.raises(ValueError, match="order column"):
        stateful_latest(df)


def test_grid_pq_rejects_m_not_dividing_d(spark):
    from incubator_flink_old_spark.operators.similarity import (
        grid_pq,
        grid_pq_encode_map,
    )

    emb = _emb(spark)  # 64-dim vectors
    with pytest.raises(ValueError, match="d=64.*m=3"):
        grid_pq(emb, m=3, n_centroids=4, iters=1)
    _, books = grid_pq(emb, m=4, n_centroids=4, iters=1)
    with pytest.raises(ValueError, match="d=64.*m=3"):
        grid_pq_encode_map(emb, books.collect(), m=3)

