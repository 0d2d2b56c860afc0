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

import atexit
import contextlib
import glob
import hashlib
import os
import re
import shutil
import subprocess

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
    memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
    # The driver JVM maps Spark's classes from a class-data archive
    # (ClassDataArchive) instead of loading ~16,000 of them from 287 jars.
    # Set-up is mostly class loading: perfbench `tpch` setup_s read
    # 8.26 -> 4.10 s with the archive (medians of 10 pairs), and curation
    # and streaming halve too (PERF.md, "Session start: one class-data
    # archive"). The first session of a JDK, heap mode and Spark class
    # path writes the archive when its JVM exits: once per machine it
    # pays ~+2 s set-up and ~+13 s of wall, most of it the dump. None
    # when get_spark launches no JVM (one runs already) or cannot use an
    # archive; the launch is then unchanged.
    # Like the flags below, a session built outside the engine keeps its
    # own JVM.
    archive = ClassDataArchive.for_launch(memory)
    # UI off by default (saves a jetty server + listener overhead in tests);
    # bench sets SPARK_GRAFT_UI=1 to read per-stage engine metrics
    # (executorRunTime, shuffle bytes) back over the UI REST API.
    ui = os.environ.get("SPARK_GRAFT_UI", "") not in ("", "0")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", memory)
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
            "-XX:-DontCompileHugeMethods" + (archive.java_options if archive else ""),
        )
    )
    with archive.launching() if archive else contextlib.nullcontext():
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return prep_session(spark, shuffle_partitions=int(cpus))


#: Seconds an exiting session waits for its JVM to write the archive
#: (8-13 s for 136-165 MB measured).
_DUMP_WAIT_S = 180
#: CDS warns on stdout: a dump lists the ~500 classes it skips, and a
#: rejected archive prints a line on every start.
_CDS_QUIET = "-Xlog:cds=off,cds+dynamic=off"
#: Set by the environment, these put a directory on the driver's class
#: path, and JDK 17 neither writes nor maps an archive while a non-empty
#: directory is on it. SPARK_CONF_DIR set by the user is one of them.
_CLASS_PATH_VARS = ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")


def cache_dir() -> str:
    """Where the archive lives: per user and outside the repository. Not
    under TMPDIR, which perfbench removes after every run."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "incubator_flink_old_spark")


def java_binary() -> str | None:
    """The java that spark-class runs: $JAVA_HOME/bin/java, else the
    first on PATH; resolved through its links."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def heap_bytes(memory: str) -> int | None:
    """A ``spark.driver.memory`` string in bytes (no unit means MiB)."""
    m = re.fullmatch(r"(\d+)([kmgtp]?)b?", memory.strip().lower())
    if m is None:
        return None
    unit = m.group(2)
    return int(m.group(1)) << (10 + 10 * "kmgtp".index(unit) if unit else 20)


def archive_key(java: str, spark_home: str, memory: str) -> str | None:
    """The name of the archive for everything the JVM checks when it maps
    one: the JDK (its binary and base archives), the compressed-oops mode
    and the Spark jars (name, size, mtime). The JVM checks again and
    falls back to the base archive on any mismatch."""
    heap = heap_bytes(memory)
    if heap is None:
        return None
    java_home = os.path.dirname(os.path.dirname(java))
    digest = hashlib.sha256()
    for path in [
        java,
        *sorted(glob.glob(os.path.join(java_home, "lib", "server", "*.jsa"))),
        *sorted(glob.glob(os.path.join(spark_home, "jars", "*"))),
    ]:
        st = os.stat(path)
        digest.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    # Compressed oops are off from a 32 GiB heap (get_spark's default is
    # 48g). An archive written with them on is refused with them off and
    # the other way round; 2g and 8g heaps share one.
    mode = "coops" if heap < 32 << 30 else "nocoops"
    return f"{digest.hexdigest()[:16]}-{mode}"


def _remove(path: str) -> None:
    with contextlib.suppress(OSError):
        os.remove(path)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


class ClassDataArchive:
    """The JDK 17 dynamic AppCDS archive of the driver JVM that
    :func:`get_spark` launches, one per :func:`archive_key` in
    :func:`cache_dir`.

    If the archive exists, the JVM maps it (``-XX:SharedArchiveFile``).
    Otherwise the JVM writes ``<key>.<pid>.tmp`` when it exits
    (``-XX:ArchiveClassesAtExit``), and at interpreter exit
    :meth:`promote` renames the file to the archive, but only if the
    JVM exited 0 and a JVM maps the file with ``-Xshare:on``. A JVM killed
    mid-write leaves a truncated file, and mapping one crashes the JVM.

    spark-class puts ``$SPARK_CONF_DIR`` (default ``$SPARK_HOME/conf``)
    first on the class path. When that directory holds only
    ``*.template`` files, spark-submit and log4j read nothing from it, so
    the launch points ``SPARK_CONF_DIR`` at an empty directory of the
    cache instead; the variable is set only while ``getOrCreate`` runs.
    """

    def __init__(self, cache: str, key: str, java: str, memory: str):
        self.cache = cache
        self.key = key
        self.java = java
        self.memory = memory
        self.path = os.path.join(cache, f"{key}.jsa")
        self.conf_dir = os.path.join(cache, "empty-conf")
        #: The file the JVM writes at exit; None when it maps ``path``.
        self.tmp: str | None = None

    @classmethod
    def for_launch(cls, memory: str) -> ClassDataArchive | None:
        """The archive of the JVM that ``getOrCreate`` is about to launch,
        or None to launch as without one: no JVM is launched (a gateway
        exists, or ``PYSPARK_GATEWAY_PORT`` names one), the class path
        would hold a directory with files in it, there is no java, or the
        cache cannot be written. Creates the temp file when the archive
        does not exist yet and deletes the temp files of dead processes."""
        from pyspark import SparkContext
        from pyspark.find_spark_home import _find_spark_home

        if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
            return None
        if any(os.environ.get(var) for var in _CLASS_PATH_VARS):
            return None
        spark_home = _find_spark_home()
        java = java_binary()
        try:
            conf = os.path.join(spark_home, "conf")
            if os.path.isdir(conf) and not all(n.endswith(".template") for n in os.listdir(conf)):
                return None
            key = archive_key(java, spark_home, memory) if java else None
            if key is None:
                return None
            archive = cls(cache_dir(), key, java, memory)
            os.makedirs(archive.conf_dir, exist_ok=True)
            if os.listdir(archive.conf_dir):
                return None
            for name in os.listdir(archive.cache):
                parts = name.split(".")
                if len(parts) == 3 and parts[2] == "tmp" and parts[1].isdigit() and not _alive(int(parts[1])):
                    _remove(os.path.join(archive.cache, name))
            if not os.path.isfile(archive.path):
                archive.tmp = os.path.join(archive.cache, f"{key}.{os.getpid()}.tmp")
                open(archive.tmp, "wb").close()
        except OSError:
            return None
        return archive

    @property
    def java_options(self) -> str:
        """The driver JVM flags, each with a leading space."""
        if self.tmp:
            return f" -XX:ArchiveClassesAtExit={self.tmp} {_CDS_QUIET}"
        return f" -XX:SharedArchiveFile={self.path} {_CDS_QUIET}"

    @contextlib.contextmanager
    def launching(self):
        """Scope of the ``getOrCreate`` that launches the JVM: pyspark
        copies ``os.environ`` into it. A JVM that writes the archive gets
        :meth:`promote` registered for interpreter exit."""
        os.environ["SPARK_CONF_DIR"] = self.conf_dir
        try:
            yield
        except BaseException:
            if self.tmp:
                _remove(self.tmp)
            raise
        finally:
            del os.environ["SPARK_CONF_DIR"]
        if self.tmp:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            class_path = gateway.jvm.java.lang.System.getProperty("java.class.path")
            atexit.register(self.promote, gateway.proc, class_path)

    def promote(self, proc, class_path: str) -> bool:
        """Let the JVM exit and write the temp file; make it the archive
        if the JVM exited 0 and :meth:`maps` it, delete it otherwise. A
        JVM still writing after ``_DUMP_WAIT_S`` leaves its file to a
        later session, which deletes it. Also deletes the archives of
        other JDKs and jar sets. Returns whether the file was promoted."""
        from pyspark import SparkContext

        try:
            if proc.poll() is None:
                # A context left running would see its JVM go: pyspark's
                # accumulator server prints the EOF as an error.
                if SparkContext._active_spark_context is not None:
                    SparkContext._active_spark_context.stop()
                proc.stdin.close()
                proc.wait(timeout=_DUMP_WAIT_S)
        except subprocess.TimeoutExpired:
            return False
        if proc.returncode != 0 or not self.maps(self.tmp, class_path):
            _remove(self.tmp)
            return False
        try:
            os.replace(self.tmp, self.path)
            install = self.key.rsplit("-", 1)[0]
            for name in os.listdir(self.cache):
                if name.endswith(".jsa") and not name.startswith(f"{install}-"):
                    _remove(os.path.join(self.cache, name))
        except OSError:
            return False
        return True

    def maps(self, path: str, class_path: str) -> bool:
        """Whether a JVM of this heap mode starts with ``path`` mapped
        (``-Xshare:on`` fails instead of falling back). A truncated file
        crashes it; the crash report goes nowhere."""
        cmd = [
            self.java,
            f"-Xmx{heap_bytes(self.memory) >> 20}m",
            "-Xshare:on",
            f"-XX:SharedArchiveFile={path}",
            "-XX:ErrorFile=/dev/null",
            "-XX:-CreateCoredumpOnCrash",
            "-cp",
            class_path,
            "-version",
        ]
        try:
            done = subprocess.run(
                cmd,
                stdin=subprocess.DEVNULL,
                stdout=subprocess.DEVNULL,
                stderr=subprocess.DEVNULL,
                timeout=120,
            )
        except (OSError, subprocess.TimeoutExpired):
            return False
        return done.returncode == 0


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
