"""Training-data pipeline queries, wave 30: dynamic-gap session windows
(per-event gap expressions — W3's adaptive form) and CHAINED stateful
streaming operators (stream-stream interval join feeding a windowed
aggregation in one query — the multi-stateful-operator pipeline Spark
3.4+ unlocked).

Parity discipline unchanged: real file-replay streams, batch-SQL twins,
sentinel rows only ever advance watermarks (they never join or appear
in output).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from incubator_flink_old_spark.queries import register
from incubator_flink_old_spark.queries._util import dsum, sql_dsum


# --------------------------------------------------------------------------
# Dynamic-gap session windows ⇄ running-max gaps-and-islands twin
# --------------------------------------------------------------------------
#: Per-event gap: views time out fast, everything else gets the
#: standard 5 minutes. One rule, both engines.
_GAP_CASE = (
    "CASE WHEN event_type = 'view' THEN INTERVAL '3 minutes' "
    "ELSE INTERVAL '5 minutes' END"
)

_DYN_GAP_ORACLE = f"""
    WITH e AS (
        SELECT user_id, ts, value, event_id,
               ts + {_GAP_CASE} AS endx
        FROM events),
    mx AS (
        SELECT *, MAX(endx) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        FROM e),
    flagged AS (
        SELECT *, CASE WHEN prev_max IS NULL OR ts > prev_max
                       THEN 1 ELSE 0 END AS brk
        FROM mx),
    s AS (
        SELECT *, SUM(brk) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged)
    SELECT user_id,
           MIN(ts) AS win_start,
           MAX(endx) AS win_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dsum('value')} AS total_value
    FROM s
    GROUP BY user_id, sid
    """


@register("q_stream_dynamic_gap_parity", oracle=_DYN_GAP_ORACLE)
def q_stream_dynamic_gap_parity(spark, sf_dir):
    """DYNAMIC-GAP session windows ⇄ batch parity (W3's adaptive form):
    the session gap is a per-event expression (views time out in 3
    minutes, everything else 5) — the session-state machine must merge
    windows whose extents now depend on row content, not a constant.
    Events replay through readStream and sessionize with
    session_window(ts, CASE ...) per user in complete mode; the twin is
    the gaps-and-islands CTE upgraded from LAG to a RUNNING MAX of
    per-event window ends (with a variable gap, the furthest-reaching
    end need not be the previous row's). Fixed-gap sessionization is
    the degenerate case where running max == previous end, which is
    exactly q_stream_session_parity's LAG twin.

    Scale: state per (user, open session) like the fixed-gap form; the
    gap expression evaluates map-side, adding nothing to state."""
    from incubator_flink_old_spark.streaming import (
        read_events_stream,
        stream_result,
    )

    stream = read_events_stream(spark, sf_dir)
    # session_window's dynamic gap needs CalendarIntervalType — string
    # literals parse to it, while F.expr("INTERVAL '3 minutes'") yields
    # DayTimeIntervalType and is rejected. Same rule as _GAP_CASE.
    gap = F.when(F.col("event_type") == "view", F.lit("3 minutes")).otherwise(
        F.lit("5 minutes")
    )
    agg = (
        stream.groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("win_start"),
            F.col("session_window.end").alias("win_end"),
            "n_events",
            "total_value",
        )
    )
    return stream_result(agg, "complete")


# --------------------------------------------------------------------------
# Chained stateful operators: interval join → windowed aggregation
# --------------------------------------------------------------------------
_JOIN_WINDOW_ORACLE = f"""
    SELECT time_bucket(INTERVAL '1 hour', l.ts) AS win_start,
           time_bucket(INTERVAL '1 hour', l.ts) + INTERVAL '1 hour'
               AS win_end,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           {sql_dsum('r.value')} AS purchase_value
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND l.event_type = 'click' AND r.event_type = 'purchase'
     AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL '10 minutes'
    GROUP BY 1, 2
    """


@register("q_stream_join_window_parity", oracle=_JOIN_WINDOW_ORACLE)
def q_stream_join_window_parity(spark, sf_dir):
    """CHAINED stateful streaming operators ⇄ batch parity: a
    stream-stream interval join (clicks × same-user purchases within
    10 minutes) feeding a tumbling-window aggregation in ONE streaming
    query — two state stores, one watermark lineage (the join delays
    the event-time column for the window operator downstream; Spark
    3.4+ multi-stateful-operator support computes the propagated
    watermark per operator). Append mode: a window emits when the
    propagated watermark passes its end.

    Sentinel rows (negative users, one click + one purchase per cap
    batch beyond max ts) advance BOTH input watermarks past every real
    window end across two extra microbatches — covering the
    one-to-two-batch watermark application lag (measured, see
    q_stream_late_drop_parity) — so every real window finalizes
    deterministically and the oracle is the plain batch
    join-then-window twin with no emission filter. The sentinels share
    no user, so they join nothing and appear in no window output: the
    join itself discards them.

    Scale: join state bounded by watermark + bound; window state
    bounded by watermark; the chain never buffers unboundedly — this
    is the canonical funnel-metrics pipeline (match then rollup) as
    one query."""
    from incubator_flink_old_spark.queries.llm_ops15 import _sentinel_replay
    from incubator_flink_old_spark.streaming import (
        interval_join,
        replay_source,
        stream_result,
        with_watermark,
    )

    with replay_source(
        _sentinel_replay(spark, sf_dir, ("purchase", "click"))
    ) as stream:
        clicks = stream.filter(F.col("event_type") == "click").select(
            "user_id",
            F.col("ts").alias("l_ts"),
            F.col("event_id").alias("click_id"),
        )
        purchases = stream.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("r_user"),
            F.col("ts").alias("r_ts"),
            F.col("value").alias("r_value"),
        )
        l = with_watermark(clicks, "l_ts", "10 minutes")
        r = with_watermark(purchases, "r_ts", "10 minutes").withColumnRenamed(
            "r_user", "user_id"
        )
        j = interval_join(l, r, "user_id", upper="10 minutes")
        agg = (
            j.groupBy(F.window("l_ts", "1 hour"))
            .agg(
                F.count(F.lit(1)).alias("n_pairs"),
                dsum("r_value", "purchase_value"),
            )
            .select(
                F.col("window.start").alias("win_start"),
                F.col("window.end").alias("win_end"),
                "n_pairs",
                "purchase_value",
            )
        )
        return stream_result(agg, "append", state_partitions=4)
