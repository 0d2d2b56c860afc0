"""Training-data pipeline queries, wave 33: three modern engine
surfaces that complete the source/streaming plugin story —

- the PYTHON DATASOURCE API (Spark 4's user-defined source plugin: a
  partitioned generator source — the modern form of SURVEY §2's S6
  GenericInputFormat, where the reference's InputFormat interface
  hands the engine a split list and a per-split record iterator;
  Spark's DataSourceReader.partitions()/read() is the same contract,
  arrow-shipped);
- dropDuplicatesWithinWatermark (the streaming dedup that BOUNDS state
  by event time instead of remembering every key forever — the only
  dedup that survives an unbounded 100 TB/day key stream);
- the STATE STORE READER (spark.read.format("statestore") — streaming
  state as a queryable DataFrame; the observability surface that turns
  "what does my running aggregation believe right now" into SQL).

All three are oracle-checked: the generator source against a
range()-based SQL twin (integer arithmetic only), the watermark dedup
against DISTINCT (key-only projection makes kept-row identity moot),
and the state read against the batch aggregate the state must equal.
"""

from __future__ import annotations

import itertools
import shutil
import tempfile

from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from incubator_flink_old_spark.queries import register
from incubator_flink_old_spark.queries._util import t

_SEQ = itertools.count()

# ---------------------------------------------------------------------------
# Python DataSource API — the modern GenericInputFormat
# ---------------------------------------------------------------------------

_DS_ROWS = 20_000
_DS_PARTS = 8
_DS_MOD = 7
_DS_HASH = 2_654_435_761  # Knuth multiplicative constant; 2e4·2.7e9 ≪ 2^63


class SeqPartition(InputPartition):
    """One generator split: a contiguous [start, end) id range."""

    def __init__(self, start: int, end: int):
        self.start, self.end = start, end


class SeqReader(DataSourceReader):
    """Per-split record iterator — the InputFormat contract: the engine
    asks for the split list once (partitions()), then each executor
    pulls its split's rows (read()). Rows are (id, bucket, val) with
    val a deterministic integer hash of id, so any engine can replay
    the stream from the option values alone."""

    def __init__(self, options):
        self.n = int(options.get("rows", _DS_ROWS))
        self.parts = int(options.get("parts", _DS_PARTS))

    def partitions(self):
        step = (self.n + self.parts - 1) // self.parts
        return [
            SeqPartition(i * step, min((i + 1) * step, self.n))
            for i in range(self.parts)
        ]

    def read(self, part):
        for i in range(part.start, part.end):
            yield (i, i % _DS_MOD, (i * _DS_HASH) % 1000)


class SeqSource(DataSource):
    """User-defined Spark 4 Python data source ("flinkold_seq"): the
    plugin form of sources.from_elements/generate_sequence (S5/S6).
    SURVEY §2 S6 is the reference's GenericInputFormat — a user class
    the engine schedules by splits; this is that interface on Spark's
    current plugin API, arrow-batched executor-side."""

    @classmethod
    def name(cls):
        return "flinkold_seq"

    def schema(self):
        return "id long, bucket long, val long"

    def reader(self, schema):
        return SeqReader(self.options)


_DS_ORACLE = f"""
    SELECT i % {_DS_MOD} AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM((i * {_DS_HASH}) % 1000) AS BIGINT) AS sum_val,
           CAST(MIN(i) AS BIGINT) AS min_id,
           CAST(MAX(i) AS BIGINT) AS max_id
    FROM range(0, {_DS_ROWS}) r(i)
    GROUP BY 1
    """


@register("q_python_datasource", oracle=_DS_ORACLE)
def q_python_datasource(spark, sf_dir):
    """Read a user-defined PYTHON DATA SOURCE (Spark 4 plugin API) and
    aggregate it: the source hands Catalyst {_DS_PARTS} independent
    splits (DataSourceReader.partitions — the GenericInputFormat/S6
    split contract), each executor iterates its own id range, and the
    engine arrow-batches the Python rows. The oracle replays the
    deterministic integer stream from range() — the source IS its spec.

    Scale: splits are independent and embarrassingly parallel (a real
    deployment points this API at an internal service/format Spark has
    no connector for); the aggregate underneath is an ordinary
    map-side-combined hash agg. The Python boundary is the cost — which
    is why S1-S5's built-in sources stay the default and this is the
    ESCAPE HATCH, exactly as the reference positions GenericInputFormat."""
    spark.dataSource.register(SeqSource)
    df = (
        spark.read.format("flinkold_seq")
        .option("rows", _DS_ROWS)
        .option("parts", _DS_PARTS)
        .load()
    )
    return df.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("val").alias("sum_val"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
    )


# ---------------------------------------------------------------------------
# dropDuplicatesWithinWatermark — state-bounded streaming dedup
# ---------------------------------------------------------------------------

_DDW_ORACLE = """
    SELECT DISTINCT user_id, event_type FROM events
    """


@register("q_stream_dedup_watermark_parity", oracle=_DDW_ORACLE)
def q_stream_dedup_watermark_parity(spark, sf_dir):
    """Streaming dedup with WATERMARK-BOUNDED state
    (dropDuplicatesWithinWatermark): unlike q_stream_dedup_parity's
    complete-mode aggregation (state = every key, forever), this keeps
    a key's state only until the watermark passes its event time — the
    ONLY dedup formulation whose state is bounded on an unbounded
    stream, and therefore the 100 TB/day ingest shape.

    Parity is made order-independent by construction: the output
    projects ONLY the dedup key (user_id, event_type), so which
    duplicate arrived first is unobservable; with a delay longer than
    the fixture's whole time span, no key is evicted mid-replay and the
    append-mode emission is exactly one row per distinct key ≡ batch
    DISTINCT. The watermark column (ts) rides along for eviction but is
    not part of the key."""
    from incubator_flink_old_spark.streaming import (
        read_events_stream,
        stream_result,
    )

    stream = read_events_stream(spark, sf_dir)
    dedup = (
        stream.withWatermark("ts", "365 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return stream_result(dedup, "append")


# ---------------------------------------------------------------------------
# State store reader — streaming state as a DataFrame
# ---------------------------------------------------------------------------

_SS_ORACLE = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_state
    FROM events
    GROUP BY event_type
    """


@register("q_statestore_read", oracle=_SS_ORACLE)
def q_statestore_read(spark, sf_dir):
    """Read a streaming aggregation's STATE STORE back as a DataFrame
    (spark.read.format("statestore") over the query's checkpoint): run
    the per-event-type streaming count to completion, then query what
    the state backend itself holds — key struct, value struct, one row
    per key per shard — and flatten it to (event_type, n_state). The
    oracle is the batch aggregate the state MUST equal after a bounded
    replay; any drift is a state-management bug by definition.

    This is the observability half of exactly-once: checkpointed state
    is not a black box, it is a table (debugging skew = GROUP BY
    partition_id on this same read). The result is pinned eagerly so
    the checkpoint directory can be reclaimed before returning.

    Scale: the reader scans the state files directly (one split per
    store shard) without touching the running query; state volume is
    |distinct keys|, independent of stream length."""
    ck = tempfile.mkdtemp(prefix="flinkold_ss_")
    try:
        from incubator_flink_old_spark.streaming import read_events_stream

        stream = read_events_stream(spark, sf_dir)
        agg = stream.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n")
        )
        name = f"statestore_src_{next(_SEQ)}"
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            q = (
                agg.writeStream.outputMode("complete")
                .format("memory")
                .queryName(name)
                .option("checkpointLocation", ck)
                .start()
            )
            q.processAllAvailable()
            q.stop()
            q.awaitTermination()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        # The row reads the state store, not the sink: drop its view.
        spark.catalog.dropTempView(name)
        state = spark.read.format("statestore").load(ck)
        out = state.select(
            F.col("key.event_type").alias("event_type"),
            F.col("value.count").alias("n_state"),
        )
        # Pin rows before the checkpoint dir disappears (the reader is
        # lazy — it scans state files at action time).
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(ck, ignore_errors=True)
