"""SparkSession bootstrap with 100TB-scale-minded defaults.

The reference ships its own execution stack (Nephele JobManager/TaskManager,
managed memory, pipelined channels — SURVEY.md §3/§4.2). In this engine all
of that is Spark's job; the engine's responsibility is to configure Spark
well and keep every operator expressible to Catalyst.

Scale posture (tested on local[N], designed for a 1000-executor cluster):
- AQE on: runtime coalescing, skew-join splitting, dynamic join strategy.
- Broadcast threshold generous enough that TPC-H-style dimension tables
  (region/nation/supplier/part/customer) broadcast instead of shuffling.
- Arrow enabled so the unavoidable pandas-UDF paths batch efficiently.
- Session timezone pinned to UTC so timestamp semantics are engine-stable
  (and comparable against external oracles reading the same parquet).
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import DataFrame, SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Runtime-settable confs applied to ANY session the engine is handed
#: (the test/bench harness builds its own session; so does the driver).
#: Only runtime-mutable keys belong here.
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Dimension tables up to ~64MB broadcast; avoids shuffling the fact side.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # ANSI off: engine keeps permissive null-on-overflow semantics like the
    # reference's Java arithmetic (no query-killing on bad rows at 100TB).
    "spark.sql.ansi.enabled": "false",
    # The events fixture stores TIMESTAMP(NANOS); Spark rejects it natively.
    # Read as long nanos, normalized to µs timestamps in sources.load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Remove a checkpointLocation-less stream's temporary-<uuid> dir also
    # when the query fails (kept until JVM exit otherwise).
    "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
}


def prep_session(spark: SparkSession, shuffle_partitions: int | None = None) -> SparkSession:
    """Apply the engine's runtime configuration to an existing session.

    Idempotent and cheap; every public query entry point calls this so the
    engine behaves identically under the driver's session, pytest's session
    and bench's session.
    """
    for key, value in RUNTIME_CONF.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - non-mutable key on some builds
            pass
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return spark


def get_spark(app_name: str = "incubator_flink_old_spark") -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    local[$SPARK_GRAFT_CPUS] by default; on a real cluster the same code
    runs under spark-submit with master/memory provided externally.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # UI off by default (saves a jetty server + listener overhead in tests);
    # bench sets SPARK_GRAFT_UI=1 to read per-stage engine metrics
    # (executorRunTime, shuffle bytes) back over the UI REST API.
    ui = os.environ.get("SPARK_GRAFT_UI", "") not in ("", "0")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "true" if ui else "false")
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled", "true")
        # DataFrame call-site capture off. With it on (PySpark's default),
        # every F.* function and Column method captures a Python stack and
        # makes ~6 extra py4j round trips to set and clear the JVM's
        # PySparkCurrentOrigin: about half of a pair pipeline's driver-side
        # build calls (PERF.md, driver floor). The cost of turning it off:
        # runtime expression errors lose their "DataFrame ... was called
        # from file:line" fragment. A static conf, so it is set here and
        # not in RUNTIME_CONF; a session built outside the engine (such as
        # the one handed to __spark_entry__) keeps the value it was built
        # with.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Python workers fork from the engine's daemon (pyworker.py), which
        # takes Spark's pyspark.zip, py4j zip and spark-core jar off
        # sys.path when pyspark and py4j are installed as directories.
        # With them on it, every task's setup_spark_files makes 16 cached
        # zipimporters re-read 26,672 archive entries: 0.16-0.30 s of
        # worker CPU a task, against ~10 ms for the rest of a
        # pandas-state task (PERF.md, Python-worker per-task floor).
        # PYTHONPATH names the package's parent so a worker finds the
        # module from any cwd. Static confs, like the one above: a
        # session built outside the engine keeps Spark's default daemon.
        .config("spark.python.daemon.module", "incubator_flink_old_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        # Streaming checkpoints go through the FileSystem API, not Spark's
        # default FileContext one. On the local file system FileContext
        # reaches Hadoop's RawLocalFs, which without libhadoop forks
        # `readlink` twice for the source and twice for the target of
        # every rename, and a file's rename renames its Hadoop .crc too: a
        # state delta (with the state store's .delta.crc) is 16 forks.
        # Measured per warm q_stream_hh_parity pass: 376 of 500 forked
        # commands, 0 with this manager; summed state commits 1.7 -> 0.3 s
        # (PERF.md, streaming per-trigger floor). This manager checks that
        # the target is absent and then renames; the rename is atomic on a
        # local file system, where a local[N] session checkpoints, but a
        # second query racing for the same checkpoint file is not fenced
        # off as FileContext's rename fences it. The state store still
        # wraps it in its checksum manager, so the state directory keeps
        # the same files. Set here, not in RUNTIME_CONF: a session handed
        # to the engine (say, a cluster session checkpointing to HDFS)
        # keeps FileContext's rename.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        # A long-lived session compiles one whole-stage-codegen module per
        # stage per query; at the default 240 MB the JVM code cache fills
        # after ~100 queries, HotSpot stops JIT-compiling, and hot verify
        # loops drop to the interpreter (measured 2-4× wall / ~40× CPU on
        # the dedup queries mid-bench). 1 GB + explicit flushing kept
        # steady-state JIT'd for a 125-query session; at 223 registered
        # queries the sweeper starts evicting mid-bench again (round-5
        # recurrence: q_dedup_cluster 28 → 220 CPU-s on an identical
        # plan, flat GC, roaming between family members) — 2 GB restores
        # headroom proportional to the doubled query count. At 242
        # queries the same signature reappeared one size smaller (small
        # queries 2-6× CPU, flat GC, both bench runs expensive:
        # q_data_card 0.4 → 2.4 CPU-s, q_curation_audit 2.5 → 12.2).
        # 2 GB is the JVM HARD MAX for this flag ("Must be at most
        # 2048M"), so past ~230 queries the fix moves to the bench
        # harness: bench.py runs the registry in session CHUNKS sized
        # to the cache (one JVM cannot JIT-hold 242 queries of codegen
        # modules; a real deployment is a session per job anyway).
        # DontCompileHugeMethods is OFF because whole-stage codegen for the
        # pair-verify stages (signature md5s + banded join + intersect)
        # emits methods past HotSpot's 8000-bytecode-byte compile limit;
        # with the default, those exact hot loops silently stay interpreted
        # — measured as 2-5× run-to-run swings on an IDENTICAL plan
        # (16 s vs 32 s for q_dedup_minhash at sf0.1) depending on where
        # method boundaries landed. In local mode executors share this JVM,
        # so the one flag covers the whole engine.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=2g -XX:+UseCodeCacheFlushing "
            "-XX:-DontCompileHugeMethods",
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return prep_session(spark, shuffle_partitions=int(cpus))


def release(df: DataFrame) -> None:
    """Free the blocks of a persisted or local-checkpointed frame. On a
    checkpoint ``unpersist()`` frees nothing: its blocks belong to the RDD
    of its ``LogicalRDD`` plan, and a later read of it fails loudly."""
    if df.is_cached:
        df.unpersist()
        return
    plan = df._jdf.logicalPlan()
    if plan.nodeName() != "LogicalRDD":
        raise ValueError(
            f"release: {plan.nodeName()} is neither persisted nor a checkpoint"
        )
    plan.rdd().unpersist(False)


class Stage:
    """The frames one :func:`staged` scope releases on exit."""

    def __init__(self) -> None:
        self.frames: list[DataFrame] = []

    def keep(self, *frames: DataFrame):
        """Take ``frames``, already persisted or eagerly checkpointed by
        the caller; return the frame, or a tuple of several."""
        self.frames += frames
        return frames[0] if len(frames) == 1 else frames


@contextlib.contextmanager
def staged():
    """A scope that releases every frame its :meth:`Stage.keep` took, on
    exit and also on error. It decides no storage level and runs no job:
    each site keeps its own ``persist``, ``localCheckpoint`` or
    ``streaming.force_pins``. Scopes nest. A scope may keep only frames
    whose every consumer finishes inside it: a frame returned past it
    must already be materialized (an eager checkpoint of its own, left
    to Spark's ContextCleaner, or a memory-sink table)."""
    stage = Stage()
    try:
        yield stage
    finally:
        for df in reversed(stage.frames):
            release(df)
