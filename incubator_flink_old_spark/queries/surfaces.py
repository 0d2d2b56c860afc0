"""Driver-checkable queries for the source/sink and partitioning
surfaces that previously only pytest covered (SURVEY §2.1 S1/S2/S11,
§2.6 U3, §2.8 F2): each query EXERCISES the surface (CSV round-trip,
explicit repartitioning, broadcast variable) and returns a result whose
oracle is the plain relational answer — the invariant under test is
"the surface does not change the data"."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from incubator_flink_old_spark.queries import register
from incubator_flink_old_spark.queries._util import scratch_dir, t


@register(
    "q_csv_roundtrip",
    oracle="""
    SELECT c_nationkey AS nationkey,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(LENGTH(c_name) AS BIGINT)) AS BIGINT) AS name_chars
    FROM customer
    GROUP BY c_nationkey
    """,
)
def q_csv_roundtrip(spark, sf_dir):
    """S2+S11 driver-checked: write customer as CSV (writeAsCsv), read it
    back with an explicit schema + includedFields projection mask
    (readCsvFile), aggregate — the oracle computes the same aggregate
    from the parquet view, so any loss/corruption in the text round-trip
    hash-mismatches. Uses a per-run temp dir; the CSV codec must
    preserve every row and column it claims to."""
    from incubator_flink_old_spark.sources import read_csv

    cust = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    out = os.path.join(
        scratch_dir("t2_csv_"), "customer_csv"
    )
    cust.write.mode("overwrite").option("header", "false").csv(out)
    back = read_csv(
        spark,
        out,
        schema="c_custkey long, c_name string, c_nationkey long",
        included_fields=["c_name", "c_nationkey"],
    )
    return back.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.length("c_name").cast("long")).alias("name_chars"),
    )


@register(
    "q_partition_invariance",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_custkey AS BIGINT)) AS BIGINT) AS custkey_sum
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_partition_invariance(spark, sf_dir):
    """U3 driver-checked: partitionByHash then rebalance, then aggregate
    — results must be invariant under any explicit redistribution (the
    reference's OutputEmitter contract). The aggregate is integer-exact,
    so any row lost or duplicated by the exchanges hash-mismatches."""
    from incubator_flink_old_spark.operators.relational import (
        partition_by_hash,
        rebalance,
    )

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    moved = rebalance(partition_by_hash(orders, "o_custkey"), 16)
    return moved.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_custkey").cast("long")).alias("custkey_sum"),
    )


@register(
    "q_broadcast_filter",
    oracle="""
    SELECT s_nationkey, COUNT(*) AS n_suppliers
    FROM supplier
    WHERE s_nationkey IN (
        SELECT n_nationkey FROM nation WHERE n_regionkey = 1)
    GROUP BY s_nationkey
    """,
)
def q_broadcast_filter(spark, sf_dir):
    """F2 driver-checked: a broadcast variable (withBroadcastSet) built
    from the small nation dim filters the supplier scan via isin — the
    worker-side-readable broadcast the reference's rich functions use,
    with the relational IN-subquery as the oracle."""
    from incubator_flink_old_spark.functions import with_broadcast_set

    nat = t(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 1).select(
        "n_nationkey"
    )
    bc = with_broadcast_set(spark, nat, "region1_nations")
    keys = [r["n_nationkey"] for r in bc.value]
    sup = t(spark, sf_dir, "supplier")
    return (
        sup.filter(F.col("s_nationkey").isin(keys))
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )


@register(
    "q_source_text",
    oracle="""
    SELECT p_brand,
           COUNT(*) AS n_parts,
           CAST(SUM(CAST(LENGTH(p_name) AS BIGINT)) AS BIGINT) AS name_chars
    FROM part
    GROUP BY p_brand
    """,
)
def q_source_text(spark, sf_dir):
    """S1 driver-checked: writeAsText then readTextFile round-trip — part
    rows serialize to '|'-delimited text lines (write_as_text's record
    encoding), the line source reads them back as single-string records
    (sources.read_text), and the query re-parses and aggregates. The
    oracle computes the same aggregate from the parquet view, so any
    line lost, split wrong, or corrupted by the text codec
    hash-mismatches. Closes SURVEY §2.1 S1's t2 column — text lines are
    the most common raw-corpus ingest path."""
    from incubator_flink_old_spark.sources import read_text

    part = t(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand")
    out = os.path.join(scratch_dir("t2_text_"), "part_text")
    (
        part.select(
            F.concat_ws(
                "|", *[F.col(c).cast("string") for c in part.columns]
            ).alias("value")
        )
        .write.mode("overwrite")
        .text(out)
    )
    lines = read_text(spark, out)
    parsed = lines.select(F.split("value", "\\|").alias("f")).select(
        F.col("f")[1].alias("p_name"), F.col("f")[2].alias("p_brand")
    )
    return parsed.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum(F.length("p_name").cast("long")).alias("name_chars"),
    )


@register(
    "q_profile_table",
    oracle="""
    SELECT 'l_quantity' AS col,
           COUNT(*) AS n_rows,
           COUNT(l_quantity) AS n_nonnull,
           COUNT(DISTINCT l_quantity) AS n_distinct,
           CAST(MIN(l_quantity) AS DOUBLE) AS min_v,
           CAST(MAX(l_quantity) AS DOUBLE) AS max_v
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice',
           COUNT(*), COUNT(l_extendedprice),
           COUNT(DISTINCT l_extendedprice),
           CAST(MIN(l_extendedprice) AS DOUBLE),
           CAST(MAX(l_extendedprice) AS DOUBLE)
    FROM lineitem
    UNION ALL
    SELECT 'l_discount',
           COUNT(*), COUNT(l_discount),
           COUNT(DISTINCT l_discount),
           CAST(MIN(l_discount) AS DOUBLE),
           CAST(MAX(l_discount) AS DOUBLE)
    FROM lineitem
    """,
)
def q_profile_table(spark, sf_dir):
    """Data profiling (the ANALYZE/statistics pass a warehouse runs
    before planning): per-column row/non-null/distinct counts and
    min/max for three lineitem measures, computed in ONE scan — the
    per-column stats unpivot from a single aggregation row instead of
    one job per column (the oracle spells it as three scans because SQL
    has no single-pass unpivot-agg; values are identical)."""
    li = t(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.count(c).alias(f"{c}__nn"),
            F.count_distinct(c).alias(f"{c}__nd"),
            F.min(c).cast("double").alias(f"{c}__mn"),
            F.max(c).cast("double").alias(f"{c}__mx"),
        ]
    one = li.agg(*aggs)
    stacked = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col"),
                        F.col(f"{c}__n").alias("n_rows"),
                        F.col(f"{c}__nn").alias("n_nonnull"),
                        F.col(f"{c}__nd").alias("n_distinct"),
                        F.col(f"{c}__mn").alias("min_v"),
                        F.col(f"{c}__mx").alias("max_v"),
                    )
                    for c in cols
                ]
            )
        ).alias("s")
    )
    return stacked.select("s.*")


@register(
    "q_salted_join",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def q_salted_join(spark, sf_dir):
    """Skew-salted join driver-checked: the salt/explode rewrite
    (operators/joins.salted_join — the power-law-key tool when one key
    exceeds a task even after AQE skew splitting) must be INVISIBLE in
    the result — the oracle is the plain join. Integer-exact aggregates
    so the check is representation-proof."""
    from incubator_flink_old_spark.operators.joins import salted_join

    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = salted_join(li, orders, "l_orderkey", "o_orderkey", salt=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("sum_qty"),
    )


@register(
    "q_global_rank",
    oracle="""
    SELECT event_id,
           CAST(ROW_NUMBER() OVER (ORDER BY ts, event_id) AS BIGINT) AS rn
    FROM events
    WHERE event_type = 'purchase'
    """,
)
def q_global_rank(spark, sf_dir):
    """Distributed total-order row numbering driver-checked
    (operators/aggregates.global_row_number): range partition on the
    order keys + per-partition numbering + broadcast offsets — no
    single-task global window anywhere in the plan. Oracle is the
    classic (single-threaded) ROW_NUMBER."""
    from incubator_flink_old_spark.operators.aggregates import global_row_number

    ev = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    out = global_row_number(ev, [F.col("ts"), F.col("event_id")], alias="rn")
    return out.select("event_id", F.col("rn").cast("bigint").alias("rn"))


@register(
    "q_schema_evolution",
    oracle="""
    WITH gen AS (
        SELECT o_orderkey, o_orderpriority,
               CASE WHEN o_orderkey % 3 = 0 THEN NULL
                    ELSE CAST(o_totalprice AS DECIMAL(27,6)) END AS tp,
               CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END AS is_v1
        FROM orders)
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(is_v1) AS BIGINT) AS n_v1,
           CAST(SUM(tp) AS DOUBLE) AS total_v2_price
    FROM gen
    GROUP BY o_orderpriority
    """,
)
def q_schema_evolution(spark, sf_dir):
    """S4/S7 at 100 TB, driver-checked: one logical table from parquet
    files written at DIFFERENT schema versions — a v1 generation
    (o_orderkey % 3 = 0) written WITHOUT the o_totalprice column, and a
    v2 generation with it — read back as one frame via
    sources.load_table_evolved (mergeSchema): v1 rows surface the added
    column as NULL, exactly the posture years of accumulated data
    demand when rewriting old files is off the table. The aggregate
    counts v1 rows per priority and decimal-sums the price over v2 rows
    only (SUM skips NULLs on both engines), so a dropped row, a
    mis-merged column, or a default other than NULL hash-mismatches.
    Scale: the merged read is two file listings; Spark unions field
    sets at planning time — no data rewrite, no shuffle."""
    from incubator_flink_old_spark.sources import load_table_evolved

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    base = scratch_dir("t2_evo_")
    v1 = os.path.join(base, "gen=v1")
    v2 = os.path.join(base, "gen=v2")
    orders.filter(F.col("o_orderkey") % 3 == 0).drop(
        "o_totalprice"
    ).write.mode("overwrite").parquet(v1)
    orders.filter(F.col("o_orderkey") % 3 != 0).write.mode(
        "overwrite"
    ).parquet(v2)
    merged = load_table_evolved(spark, [v1, v2])
    return merged.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(
            F.when(F.col("o_totalprice").isNull(), 1).otherwise(0).cast("long")
        ).alias("n_v1"),
        F.sum(F.col("o_totalprice").cast("decimal(27,6)"))
        .cast("double")
        .alias("total_v2_price"),
    )


@register(
    "q_csv_quarantine",
    oracle="""
    WITH cls AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 17 = 3 THEN 1 ELSE 0 END AS bad
        FROM customer)
    SELECT CAST(SUM(1 - bad) AS BIGINT) AS n_clean,
           CAST(SUM(bad) AS BIGINT) AS n_quarantined,
           CAST(SUM(CASE WHEN bad = 0 THEN c_custkey END) AS BIGINT)
               AS clean_key_sum
    FROM cls
    """,
)
def q_csv_quarantine(spark, sf_dir):
    """S2's lenient-parse flag driver-checked: a CSV landing zone where
    a deterministic subset of lines (c_custkey % 17 = 3) is written
    MALFORMED (wrong arity / unparseable number), read back with
    sources.read_csv_robust (PERMISSIVE + quarantine column): bad lines
    must land whole in the corrupt column with typed fields NULL, clean
    lines must parse exactly. The oracle derives the same clean /
    quarantined partition from the parquet truth by the corruption law,
    so a swallowed bad row, a mis-parsed good row, or a fail-the-job
    parser hash-mismatches. At scale one bad record must never kill a
    million-task ingest — this row pins the quarantine contract."""
    from incubator_flink_old_spark.sources import read_csv_robust

    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    out = os.path.join(scratch_dir("t2_quar_"), "landing_csv")
    lines = cust.select(
        F.when(
            F.col("c_custkey") % 17 == 3,
            F.concat(F.lit("corrupt;"), F.col("c_name"), F.lit(";x;y")),
        )
        .otherwise(
            F.concat_ws(",", F.col("c_custkey"), F.length("c_name"))
        )
        .alias("value")
    )
    lines.write.mode("overwrite").text(out)
    df = read_csv_robust(spark, out, "c_custkey long, name_len long")
    res = df.agg(
        F.sum(
            F.when(F.col("_corrupt_record").isNull(), 1).otherwise(0)
        ).alias("n_clean"),
        F.sum(
            F.when(F.col("_corrupt_record").isNull(), 0).otherwise(1)
        ).alias("n_quarantined"),
        F.sum(
            F.when(F.col("_corrupt_record").isNull(), F.col("c_custkey"))
        ).alias("clean_key_sum"),
    )
    df.unpersist()
    return res


@register(
    "q_rich_open_close",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT) * 250 // 10000)
                AS BIGINT) AS discount_cents
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_rich_open_close(spark, sf_dir):
    """P6 driver-checked: the rich-function lifecycle (open/close +
    withParameters) carrying REAL work — the discount rate arrives only
    through the open(config) hook (the reference's
    withParameters(Configuration) → open(Configuration) contract), so
    if open() were skipped or the config not shipped, map() would have
    no rate and the job would fail rather than silently fall back. The
    per-row math is integer (price→cents half-even-rounds the same on
    both engines since price*100 is within 1e-9 of an integer, then
    floor-divided basis points), so the oracle replays it exactly.
    Scale: mapInPandas map-only — no shuffle; the aggregate after it is
    digest-sized."""
    import pandas as pd

    from incubator_flink_old_spark.functions import (
        RichMapFunction,
        apply_rich,
    )

    class DiscountFn(RichMapFunction):
        def open(self, config):
            self.rate_bp = config["rate_bp"]

        def map(self, batch: pd.DataFrame) -> pd.DataFrame:
            cents = (batch["o_totalprice"] * 100).round().astype("int64")
            return pd.DataFrame(
                {
                    "o_orderpriority": batch["o_orderpriority"],
                    "discount_cents": cents * self.rate_bp // 10000,
                }
            )

    orders = t(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    mapped = apply_rich(
        orders,
        DiscountFn(),
        "o_orderpriority string, discount_cents long",
        config={"rate_bp": 250},
    )
    return mapped.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("discount_cents").alias("discount_cents"),
    )


@register(
    "q_distributed_cache",
    oracle="""
    SELECT c_nationkey AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(SUM(c_custkey) AS BIGINT) AS key_sum
    FROM customer
    WHERE c_nationkey % 5 = 0
    GROUP BY c_nationkey
    """,
)
def q_distributed_cache(spark, sf_dir):
    """F3 driver-checked: the DistributedCache contract — a side FILE
    (not a broadcast variable) shipped to every worker and opened
    worker-side by path (SparkFiles.get), the reference's
    registerCachedFile → getDistributedCache().getFile flow. The file
    carries the allowed nation keys (every 5th); the Arrow worker reads
    it on first batch and filters customers against it, so a file that
    failed to ship, shipped stale, or was read driver-side-only would
    change the aggregate and hash-mismatch. The oracle replays the
    membership law (n_nationkey % 5 = 0) relationally. Scale: the cache
    file is bytes-per-worker, the filter map-side; only the digest
    aggregate shuffles."""
    from pyspark import SparkFiles

    from incubator_flink_old_spark.functions import distributed_cache_file

    nat = t(spark, sf_dir, "nation").select("n_nationkey")
    keys = sorted(
        r[0] for r in nat.collect() if r[0] % 5 == 0
    )  # 25-row dim: bounded driver finish
    base = scratch_dir("t2_dcache_")
    fname = "allowed_nations.txt"
    with open(os.path.join(base, fname), "w") as f:
        f.write("\n".join(str(k) for k in keys))
    distributed_cache_file(spark, os.path.join(base, fname))

    def _filter(batches):
        import pandas as pd  # noqa: F401 - worker-side import parity

        with open(SparkFiles.get(fname)) as fh:
            allowed = {int(line) for line in fh.read().split() if line}
        for pdf in batches:
            yield pdf[pdf["c_nationkey"].isin(allowed)]

    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    kept = cust.mapInPandas(_filter, schema="c_custkey long, c_nationkey long")
    return kept.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.sum("c_custkey").alias("key_sum"),
    )
