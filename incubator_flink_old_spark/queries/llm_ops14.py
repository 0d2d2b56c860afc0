"""Training-data pipeline queries, wave 27: driver rows for the two
streaming surfaces that were pytest-only (SpaceSaving heavy hitters,
exactly-once sink), plus the cluster-aware leakage-safe split.

SURVEY §2.10 parity discipline: the streaming operator runs as a REAL
multi-batch stream (file replay, one file per microbatch) and the oracle
is plain batch SQL over the same rows — Spark's batch/stream unification
is the thing under test, so any state-handling bug (lost counters on
eviction, double-applied batches, non-idempotent retries) breaks the
hash.
"""

from __future__ import annotations

import datetime
import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from incubator_flink_old_spark.queries import register
from incubator_flink_old_spark.queries._util import (
    scratch_dir,
    split_case_sql,
    split_col,
    t,
)
from incubator_flink_old_spark.queries.llm_ops2 import _dedup_cluster_oracle


# --------------------------------------------------------------------------
# Streaming SpaceSaving heavy hitters ⇄ exact batch counts
# --------------------------------------------------------------------------
#: Counter budget of the parity row. Far above the fixtures' distinct
#: user count per event_type (150 at sf0.01, ~1.5k at sf0.1), so the
#: SpaceSaving summary never evicts and its counts are EXACT — the
#: regime where streaming output must equal a plain batch groupBy count.
_HH_CAPACITY = 8192
_HH_TOPK = 5

_HH_ORACLE = f"""
    WITH c AS (
        SELECT event_type, CAST(user_id AS VARCHAR) AS user_id,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2),
    r AS (
        SELECT event_type, user_id, cnt,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY cnt DESC, user_id
               ) AS rnk
        FROM c)
    SELECT event_type, user_id, cnt, CAST(0 AS BIGINT) AS err,
           CAST(rnk AS INT) AS rnk
    FROM r WHERE rnk <= {_HH_TOPK}
    """


@register("q_stream_hh_parity", oracle=_HH_ORACLE)
def q_stream_hh_parity(spark, sf_dir):
    """Streaming SpaceSaving heavy hitters ⇄ batch parity — the bounded-
    state frequency operator (streaming.stateful_heavy_hitters) gets an
    oracle-checked driver row, upgrading it from pytest-only coverage.
    The events land as FOUR parquet files replayed one file per
    microbatch, so per-group counters genuinely merge across batches
    through the state store. With capacity ≥ distinct values the summary
    is exact (err 0); each batch emits its full counter set, and since
    counts only grow, MAX(cnt) per (group, value) over all emissions IS
    the final count — a partition- and batch-boundary-invariant readback
    (the same monotonicity SpaceSaving's guarantee rests on). The batch
    side re-ranks top-5 with the operator's own tie-break (cnt desc,
    value string asc). At 100 TB/day the same operator runs with
    capacity << distinct values and err reports the eviction bound;
    exactness here pins the merge logic that regime reuses.
    Scale: state is O(capacity) per group forever; emissions are
    capacity-bounded rows per group per batch."""
    from incubator_flink_old_spark.streaming import (
        replay_source,
        stateful_heavy_hitters,
        stream_result,
    )

    events = t(spark, sf_dir, "events").select("event_type", "user_id")
    with replay_source([events.repartition(4)]) as stream:
        out = stateful_heavy_hitters(
            stream, capacity=_HH_CAPACITY, k=_HH_CAPACITY,
            group="event_type", value="user_id",
        )
        emitted = stream_result(out, "update", state_partitions=4)
    final = emitted.groupBy("event_type", "user_id").agg(
        F.max("cnt").alias("cnt"), F.max("err").alias("err")
    )
    w = Window.partitionBy("event_type").orderBy(F.col("cnt").desc(), "user_id")
    return (
        final.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _HH_TOPK)
        .select("event_type", "user_id", "cnt", "err", "rnk")
    )


# --------------------------------------------------------------------------
# Exactly-once file sink ⇄ source identity under a forced duplicate retry
# --------------------------------------------------------------------------
_EOS_ORACLE = """
    SELECT event_id, user_id, event_type, value,
           CAST(epoch(ts) AS DOUBLE) AS ep
    FROM events
    """


@register("q_stream_eos_sink_parity", oracle=_EOS_ORACLE)
def q_stream_eos_sink_parity(spark, sf_dir):
    """Exactly-once file sink ⇄ source identity — the foreachBatch
    idempotent-commit protocol (streaming.idempotent_parquet_sink) gets
    an oracle-checked driver row. The events replay as a three-file
    stream into the sink, then a DUPLICATE DELIVERY of batch_id=0 is
    forced with a poisoned payload (the FULL dataset — ~3× batch 0): a
    sink without the committed-marker check would overwrite the batch
    directory and the readback hash would explode. read_committed sees
    each epoch exactly once, so the committed union must be EXACTLY the
    source rows — byte-identical values, since both engines read the
    same parquet and the only computed column (ep) is the established
    micros/1e6 double-epoch parity. This is the recovery semantics
    Structured Streaming actually exercises: after a failure the same
    batch_id is retried with the same (or here, adversarially wrong)
    data, and output must not duplicate. Scale: one rename-free
    overwrite + marker per epoch; readers trust only marked dirs."""
    from incubator_flink_old_spark.streaming import (
        idempotent_parquet_sink,
        read_committed,
    )

    base = scratch_dir("t2_eos_")
    src = os.path.join(base, "src")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    full = (
        t(spark, sf_dir, "events")
        .select(
            "event_id", "user_id", "event_type", "value",
            F.col("ts").cast("timestamp").cast("double").alias("ep"),
        )
    )
    full.repartition(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, "
            "value double, ep double"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    sink = idempotent_parquet_sink(out)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    # forced duplicate delivery of a committed epoch with a poisoned
    # payload — the no-op proves idempotence, not absence of retries
    sink(full, 0)
    return read_committed(spark, out).select(
        "event_id", "user_id", "event_type", "value", "ep"
    )


# --------------------------------------------------------------------------
# Watermark late-data DROP ⇄ batch replica of the drop rule (W4 made
# driver-visible: the watermark actually discards rows here)
# --------------------------------------------------------------------------
_LATE_ORACLE = """
    WITH mx AS (SELECT MAX(ts) AS m FROM events),
    b AS (
        SELECT event_id, ts, value,
               time_bucket(INTERVAL '1 hour', ts) AS ws,
               time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS we
        FROM events)
    SELECT ws AS win_start, we AS win_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value
    FROM b CROSS JOIN mx
    WHERE we <= m - INTERVAL '10 minutes'
      AND NOT (event_id % 10 = 7 AND we <= m - INTERVAL '15 minutes')
    GROUP BY 1, 2
    """


@register("q_stream_late_drop_parity", oracle=_LATE_ORACLE)
def q_stream_late_drop_parity(spark, sf_dir):
    """Watermark LATE-DATA DROP ⇄ batch parity — W4's defining behavior
    (discarding data that arrives beyond the lateness bound) finally
    produces different-from-batch output, and the oracle replays the
    drop rule exactly. Arrival order is engineered as THREE batches:
    batch 0 is the non-late rows in finalizable windows (window end ≤
    max_ts − 10 min), batch 1 is the non-late rows in the trailing
    windows (end > max_ts − 10 min — the freshest rows, including
    max_ts itself; in append mode those windows never finalize, so the
    split cannot change the emitted output), batch 2 is an EMPTY file
    (a pure batch boundary), and batch 3 replays ONLY the late set
    (event_id%10==7 with window end ≤ max_ts − 15 min). The empty
    batch matters: Spark commits the data-derived watermark at a
    batch boundary but applies it to input filtering one-to-two
    batches later (measured on 4.1: a late row one batch after the
    rows that advance the watermark is admitted and even emitted;
    with a boundary in between, numRowsDroppedByWatermark counts
    it) — so by batch 3 the filter watermark is exactly
    max_ts − 10 min under either lag, and every late row targets an
    already-finalized window and is dropped by the watermark, never
    by luck. The 5-minute margin between the
    late bound and the watermark keeps every decision strictly inside
    the rule (window ends are hour-aligned, the boundary is
    max_ts − 10 min). Append mode emits exactly the finalized windows
    (end ≤ final watermark) — the oracle's emission filter. File
    mtimes are forced apart so the file-replay source orders the
    batches deterministically.
    Scale: this is the state-reclamation contract that bounds window
    state at 100 TB/day — state for a window lives only until the
    watermark passes its end."""
    from incubator_flink_old_spark.queries._util import dsum
    from incubator_flink_old_spark.streaming import replay_source, stream_result

    ev = (
        t(spark, sf_dir, "events")
        .select(
            "event_id",
            F.col("ts").cast("timestamp").alias("ts"),
            "value",
        )
        .withColumn(
            "we", F.date_trunc("hour", "ts") + F.expr("INTERVAL 1 HOUR")
        )
    )
    m = ev.agg(F.max("ts")).collect()[0][0]
    late_bound = m - datetime.timedelta(minutes=15)
    wm_bound = m - datetime.timedelta(minutes=10)
    late = (F.col("event_id") % 10 == 7) & (F.col("we") <= F.lit(late_bound))
    trailing = F.col("we") > F.lit(wm_bound)
    batches = (
        ev.filter(~late & ~trailing),
        ev.filter(~late & trailing),
        ev.limit(0),  # empty batch: lets the committed watermark apply
        ev.filter(late),
    )
    with replay_source(
        b.select("event_id", "ts", "value").repartition(1) for b in batches
    ) as stream:
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                dsum("value", "total_value"),
            )
            .select(
                F.col("window.start").alias("win_start"),
                F.col("window.end").alias("win_end"),
                "n_events",
                "total_value",
            )
        )
        return stream_result(agg, "append", state_partitions=4)


# --------------------------------------------------------------------------
# Stream-static enrichment join (dimension broadcast under a stream)
# --------------------------------------------------------------------------
_ENRICH_ORACLE = """
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(27,6))) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """


@register("q_stream_enrich_parity", oracle=_ENRICH_ORACLE)
def q_stream_enrich_parity(spark, sf_dir):
    """Stream-static enrichment join ⇄ batch parity — the production
    shape where an event stream is joined to a slowly-changing
    dimension (here customer → market segment) BEFORE aggregation. The
    static side is broadcast and re-resolved per microbatch (no join
    state at all — only the aggregation holds state), which is exactly
    why enrichment joins scale where stream-stream joins need
    watermarked buffers. The events replay file-at-a-time; complete-
    mode aggregation over the joined stream must equal the batch
    join+groupBy bit-for-bit (count + decimal sum). Scale: dimension
    broadcast ≤ tens of MB; the stream side never shuffles before the
    keyed aggregation."""
    from incubator_flink_old_spark.queries._util import dsum
    from incubator_flink_old_spark.streaming import (
        read_events_stream,
        stream_result,
    )

    dim = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    stream = read_events_stream(spark, sf_dir)
    joined = stream.join(
        F.broadcast(dim), stream["user_id"] == dim["c_custkey"], "inner"
    )
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value")
    )
    return stream_result(agg, "complete")


# --------------------------------------------------------------------------
# Cluster-aware leakage-safe split (near-dups never straddle splits)
# --------------------------------------------------------------------------
def _cluster_split_oracle() -> str:
    return f"""
    WITH base AS ({_dedup_cluster_oracle()})
    SELECT doc_id, cluster_id,
           {split_case_sql("cluster_id")} AS split
    FROM base
    """


@register("q_cluster_safe_split", oracle=_cluster_split_oracle())
def q_cluster_safe_split(spark, sf_dir):
    """Leakage-safe train/val/test split: the md5-Bernoulli 80/10/10
    assignment keyed by the NEAR-DUP CLUSTER id instead of the doc id —
    every member of a MinHash cluster lands in the same split by
    construction, so a near-duplicate of a training document can never
    contaminate val/test (the failure q_split_leakage AUDITS, prevented
    at assignment time; group-aware splitting is the standard
    decontamination-safe recipe). Composition of two shipped primitives:
    dedup_clusters (LSH pairs → connected components) and the single-
    source split law (_util.split_col ⇄ split_case_sql), so the split
    stays a stable property of cluster membership across runs, engines
    and partitionings. Scale: the cluster pass is the proven banded
    layout; the assignment itself is map-side on its output."""
    from incubator_flink_old_spark.operators.text import dedup_clusters

    docs = t(spark, sf_dir, "documents")
    clusters = dedup_clusters(docs, band_size=4).select("doc_id", "cluster_id")
    return clusters.select(
        "doc_id", "cluster_id", split_col("cluster_id").alias("split")
    )
