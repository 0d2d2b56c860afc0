"""Training-data pipeline queries, wave 29: the left-outer stream-stream
interval join (watermark-driven null emission — the hardest W-family
surface), MERGE-upsert semantics (the CDC sink family), and
dynamic-partition-pruned layout reads (the 100 TB fact-table scan
pattern).

SURVEY §2.10/§2.1 parity discipline as before: streaming operators run
as REAL multi-batch file-replay streams and the oracle is plain batch
SQL over the same rows; layout queries build their physical layout
inside the query and the oracle ignores layout entirely — pruning must
be invisible to results.
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from incubator_flink_old_spark.queries import register
from incubator_flink_old_spark.queries._util import dsum, scratch_dir, sql_dsum, t


def _sentinel_replay(spark, sf_dir, kinds):
    """The events fixture as one replay batch, then two sentinel batches
    one and two hours past its max ts: one row per event type in
    ``kinds`` (users −1, −2, … in turn). The sentinels share no user with
    the fixture, so they join nothing; they exist only to force two more
    microbatch boundaries, so the watermark the real rows derive is
    APPLIED (Spark applies a committed watermark one-to-two batches
    later — measured on 4.1, see q_stream_late_drop_parity)."""
    from incubator_flink_old_spark.sources import local_rows

    ev = t(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    m = ev.agg(F.max("ts")).collect()[0][0]
    sentinels = [
        local_rows(
            spark,
            [
                (-100 * (k + 1) - i, m + datetime.timedelta(hours=i),
                 -(k + 1), kind, 0.0, "{}")
                for k, kind in enumerate(kinds)
            ],
            ev.schema,
        )
        for i in (1, 2)
    ]
    return [ev.repartition(1), *sentinels]


# --------------------------------------------------------------------------
# Left-outer stream-stream interval join ⇄ batch twin with the
# final-watermark emission rule
# --------------------------------------------------------------------------
_LOJ_ORACLE = """
    WITH mx AS (
        SELECT MAX(ts) AS mc FROM events WHERE event_type = 'click')
    SELECT l.user_id, l.event_id AS click_id, r.event_id AS purchase_id
    FROM events l
    LEFT JOIN events r
      ON l.user_id = r.user_id AND r.event_type = 'purchase'
     AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL '10 minutes'
    CROSS JOIN mx
    WHERE l.event_type = 'click'
      AND (r.event_id IS NOT NULL
           OR l.ts + INTERVAL '20 minutes' < mx.mc)
    """


@register("q_stream_leftouter_join_parity", oracle=_LOJ_ORACLE)
def q_stream_leftouter_join_parity(spark, sf_dir):
    """LEFT OUTER stream-stream interval join ⇄ batch parity — the
    W-family's null-emission surface. Matches emit eagerly like the
    inner form (q_stream_interval_join_parity); an UNMATCHED click is
    emitted null-padded only when the global watermark proves its match
    window closed (watermark > click_ts + upper), and stays silently
    buffered otherwise. The oracle replays exactly that rule: a plain
    batch left join whose unmatched rows are kept only when
    l_ts + 20 min < max(click ts) — the final global watermark is
    min(clicks_wm, purchases_wm) = max_click_ts − 10 min, because the
    clicks side caps it regardless of how far the purchase side
    advances.

    Arrival order: batch 0 is the full real corpus; batches 1-2 are two
    sentinel purchases (user −1, beyond max ts) that match nothing and
    exist only to force two more microbatch boundaries, so the
    batch-0-derived watermark is APPLIED (Spark applies a committed
    watermark one-to-two batches later — measured on 4.1, see
    q_stream_late_drop_parity) and the expired unmatched clicks are
    null-emitted inside a DATA batch, not left to a race with the
    no-data-batch flush.

    Scale: join state is bounded by watermark + upper on both sides —
    the only state-bounded way to outer-join two streams; at
    100 TB/day state is (rate × 20 min) rows per side, evicted in
    order."""
    from incubator_flink_old_spark.streaming import (
        interval_join,
        replay_source,
        stream_result,
        with_watermark,
    )

    batches = _sentinel_replay(spark, sf_dir, ("purchase",))
    with replay_source(batches) as stream:
        clicks = stream.filter(F.col("event_type") == "click").select(
            "user_id",
            F.col("ts").alias("l_ts"),
            F.col("event_id").alias("click_id"),
        )
        purchases = stream.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("r_user"),
            F.col("ts").alias("r_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        l = with_watermark(clicks, "l_ts", "10 minutes")
        r = with_watermark(purchases, "r_ts", "10 minutes").withColumnRenamed(
            "r_user", "user_id"
        )
        j = interval_join(
            l, r, "user_id", upper="10 minutes", how="leftOuter"
        ).select(l["user_id"], "click_id", "purchase_id")
        return stream_result(j, "append", state_partitions=4)


# --------------------------------------------------------------------------
# MERGE INTO semantics: CDC batch applied to a dimension
# --------------------------------------------------------------------------
_MERGE_ORACLE = """
    WITH ch0 AS (
        SELECT o_custkey AS k,
               SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS d
        FROM orders WHERE o_orderdate >= DATE '1997-01-01' GROUP BY 1),
    ch AS (
        SELECT k, d, (k % 37 = 3) AS is_del FROM ch0
        UNION ALL
        SELECT k + 1000000, d, FALSE FROM ch0 WHERE k % 11 = 0),
    m AS (
        SELECT COALESCE(b.c_custkey, c.k) AS c_custkey,
               b.c_custkey IS NOT NULL AS in_b,
               c.k IS NOT NULL AS in_c,
               b.c_name, b.c_mktsegment, b.c_acctbal, c.d, c.is_del
        FROM customer b FULL OUTER JOIN ch c ON b.c_custkey = c.k)
    SELECT c_custkey,
           CASE WHEN NOT in_b THEN 'cdc-' || CAST(c_custkey AS VARCHAR)
                ELSE c_name END AS c_name,
           CASE WHEN NOT in_b THEN 'PENDING'
                ELSE c_mktsegment END AS c_mktsegment,
           CASE WHEN NOT in_b THEN CAST(d AS DOUBLE)
                WHEN in_c THEN
                    CAST(CAST(c_acctbal AS DECIMAL(27,6)) + d AS DOUBLE)
                ELSE c_acctbal END AS c_acctbal
    FROM m
    WHERE NOT (in_b AND in_c AND is_del)
    """


@register("q_merge_upsert", oracle=_MERGE_ORACLE)
def q_merge_upsert(spark, sf_dir):
    """MERGE INTO ⇄ full-outer-join twin: a CDC batch derived from
    recent orders applied to the customer dimension — WHEN MATCHED AND
    tombstone THEN DELETE, WHEN MATCHED THEN UPDATE (decimal-exact
    balance add), WHEN NOT MATCHED THEN INSERT (synthetic new customers
    at key+1,000,000). Exercises all three MERGE arms plus untouched
    pass-through rows (custkeys with no 1997+ orders).

    Scale: operators.joins.merge_upsert is one shuffle on the merge key
    (AQE broadcasts a small CDC batch); the oracle is the SQL-standard
    expansion of the same three arms."""
    from incubator_flink_old_spark.operators.joins import merge_upsert

    base = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )
    ch0 = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(27,6)")).alias("d"))
    )
    changes = ch0.select(
        "k", "d", (F.col("k") % 37 == 3).alias("is_del")
    ).unionByName(
        ch0.filter(F.col("k") % 11 == 0).select(
            (F.col("k") + 1000000).alias("k"),
            "d",
            F.lit(False).alias("is_del"),
        )
    ).withColumnRenamed("k", "c_custkey")
    return merge_upsert(
        base,
        changes,
        on="c_custkey",
        set_when_matched={
            "c_acctbal": (
                F.col("__b.c_acctbal").cast("decimal(27,6)") + F.col("__c.d")
            ).cast("double")
        },
        insert_values={
            "c_name": F.concat(
                F.lit("cdc-"), F.col("__c.c_custkey").cast("string")
            ),
            "c_mktsegment": F.lit("PENDING"),
            "c_acctbal": F.col("__c.d").cast("double"),
        },
        delete_when=F.col("__c.is_del"),
    )


# --------------------------------------------------------------------------
# Dynamic partition pruning over a date-partitioned fact layout
# --------------------------------------------------------------------------
_DPP_ORACLE = f"""
    WITH e AS (
        SELECT CAST(ts AS DATE) AS day, value FROM events),
    d AS (
        SELECT DISTINCT day FROM e WHERE EXTRACT(day FROM day) <= 6)
    SELECT e.day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dsum('e.value')} AS total_value
    FROM e JOIN d USING (day)
    GROUP BY 1
    """


def _dpp_joined(spark, sf_dir):
    """Build the date-partitioned layout and return the pruned join —
    shared by the registered query and the plan-shape test."""
    ev = t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "value"
    )
    layout = scratch_dir("t2_dpp_fact_")
    ev.write.mode("overwrite").partitionBy("day").parquet(layout)
    fact = spark.read.parquet(layout)
    # The dim must carry a SELECTIVE predicate (not just a LIMIT) for
    # Catalyst's PartitionPruning rule to consider the join worth a
    # pruning subquery — measured: a bare top-5 LIMIT dim plans with
    # PartitionFilters=[isnotnull] only, the filtered dim below gets
    # the dynamicpruning expression on the fact scan.
    dim = (
        ev.select("day")
        .distinct()
        .filter(F.dayofmonth("day") <= 6)
    )
    return fact.join(F.broadcast(dim), "day")


@register("q_dpp_prune", oracle=_DPP_ORACLE)
def q_dpp_prune(spark, sf_dir):
    """Dynamic partition pruning over a hive-partitioned fact layout —
    THE 100 TB fact-scan pattern: events written partitioned by day,
    then joined to a runtime-computed dim (first-week days). The
    partition filter is not known at plan time, so Catalyst inserts a
    dynamicpruning subquery fed by the broadcast dim and the fact scan
    reads only 5 of ~30 date directories (plan shape pinned by
    tests/test_wave29.py: `dynamicpruning` present, PartitionFilters
    non-empty). The oracle computes the same answer layout-blind.

    At 100 TB this is the difference between scanning the whole fact
    table and scanning the few partitions a dimension filter selects —
    pruning DERIVED from a join, which static predicate pushdown cannot
    express."""
    joined = _dpp_joined(spark, sf_dir)
    return joined.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value")
    )
