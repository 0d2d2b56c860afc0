"""Training-data pipeline queries, wave 26 (round 5): the BUCKETED
co-located join — the last member of the materialized-layout family
(band-bucketed candidate join → q_dedup_minhash_layout; by-cell
partition pruning → q_ann_recall_ivf_layout; Morton clustering →
q_zorder_layout; hash-bucketed fact⨝fact co-location → this module).
At 100 TB the single biggest shuffle in a TPC-H-shaped workload is
lineitem⨝orders on orderkey; writing BOTH fact tables bucketed and
sorted by that key turns every subsequent join between them into a
zero-exchange, zero-sort zip of co-located buckets. PERF.md "Round 2
delta" (bucketed-layout probe) measures the win at sf0.1;
tests/test_plan_shapes.py asserts the exchange-free join on this exact
query's plan.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from incubator_flink_old_spark.queries import register
from incubator_flink_old_spark.queries._util import dsum, scratch_dir, sql_dsum, t

#: Catalog names the layout build (re)writes; bucket count is the knob a
#: real deployment sizes to cluster width (buckets ≫ executors).
_B_ORDERS = "t2_b_orders"
_B_LINEITEM = "t2_b_lineitem"
_N_BUCKETS = 8


def _bucketed_join_probe(spark, sf_dir):
    """Shared body: build the bucketed layout, return the probe frame.
    Split out so the plan-shape test asserts on the exact plan the
    query returns."""
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_quantity"
    )
    # External tables at per-run temp paths: a MANAGED bucketed table's
    # warehouse dir survives the session while the catalog entry does
    # not, and the next session's saveAsTable dies with
    # LOCATION_ALREADY_EXISTS (the q_dedup_minhash_layout precedent).
    for name in (_B_ORDERS, _B_LINEITEM):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    base = scratch_dir("t2_bucketed_")
    (
        orders.repartition(_N_BUCKETS, "o_orderkey")
        .write.bucketBy(_N_BUCKETS, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", base + "/orders")
        .mode("overwrite")
        .saveAsTable(_B_ORDERS)
    )
    (
        li.repartition(_N_BUCKETS, "l_orderkey")
        .write.bucketBy(_N_BUCKETS, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", base + "/lineitem")
        .mode("overwrite")
        .saveAsTable(_B_LINEITEM)
    )
    bo = spark.table(_B_ORDERS)
    bl = spark.table(_B_LINEITEM)
    joined = bl.hint("merge").join(
        bo, F.col("l_orderkey") == F.col("o_orderkey")
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        dsum("l_extendedprice", "revenue"),
    )


@register(
    "q_bucketed_join_layout",
    oracle=f"""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           {sql_dsum('l.l_extendedprice')} AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def q_bucketed_join_layout(spark, sf_dir):
    """The co-located fact⨝fact JOIN LAYOUT as a driver row: both fact
    tables are written bucketed AND sorted by the join key (bucketBy +
    sortBy + saveAsTable), so the probe join runs as a sort-merge zip of
    co-located buckets with NO Exchange on either side
    (tests/test_plan_shapes.py asserts it on this exact plan; the
    residual per-task Sorts are local and shuffle-free — Spark does not
    yet consume bucket sortBy metadata for sort elimination) — at
    100 TB this deletes the workload's single largest shuffle (lineitem
    ⨝ orders) from every query that runs after the one-time layout
    build, which is exactly how a production warehouse amortizes its
    biggest fact join. Result ≡ the plain join (same oracle): bucketing
    is a physical-plan change only — a lost row, a bucket-boundary
    error, or a mis-sorted bucket hash-mismatches. The repartition
    before each write is the one-time build cost (one shuffle each);
    the only exchange in the probe plan is the digest-sized final
    aggregation."""
    return _bucketed_join_probe(spark, sf_dir)
