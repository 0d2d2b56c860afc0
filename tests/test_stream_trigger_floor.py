"""The streaming per-trigger floor: a get_spark session checkpoints
through the FileSystem-based manager, so no rename forks `readlink`,
and the list-state operators keep their state as one JSON string, so a
warm session compiles no new state-encoder class per trigger."""

from __future__ import annotations

import functools
import os
import shutil
import struct
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCHEMA = "event_type string, event_id long, value double"

# Floats whose exact bits a text round trip could lose: a sum with no
# short decimal form, signed zero, the smallest subnormal and the
# largest finite double.
_ADVERSARIAL = (0.1 + 0.2, -0.0, 5e-324, 1.7976931348623157e308)


def _batches(spark, files):
    """Replay batches, one trigger per entry of ``files`` (each a list of
    rows), in order."""
    from incubator_flink_old_spark.sources import local_rows

    return [local_rows(spark, rows, _SCHEMA) for rows in files]


def _three_files():
    return [
        [("a", 3 * f + i, float(f * 10 + i)) for i in range(3)]
        + [("b", 100 + 3 * f + i, float(i - f)) for i in range(3)]
        for f in range(3)
    ]


_READLINK_RUN = textwrap.dedent(
    """
    import sys, tempfile
    from incubator_flink_old_spark import get_spark
    from incubator_flink_old_spark.sources import local_rows
    from incubator_flink_old_spark.streaming import (
        replay_source, stateful_heavy_hitters, stream_result)

    tempfile.tempdir = sys.argv[1]
    spark = get_spark("readlink-probe")
    batches = [
        local_rows(spark, [("a", f, 1.0), ("b", f, 2.0)],
                   "event_type string, event_id long, value double")
        for f in range(2)
    ]
    with replay_source(batches) as stream:
        out = stateful_heavy_hitters(stream, value="event_id")
        assert stream_result(out, "update", state_partitions=2).count() > 0
    spark.stop()
    """
)


def test_local_checkpoint_forks_no_readlink(tmp_path):
    """Spark's default FileContext manager forks `readlink` twice per
    renamed path on a local file system without libhadoop (hundreds per
    stream); the engine's session runs a stateful stream with none."""
    real = shutil.which("readlink")
    if real is None:
        pytest.skip("no readlink on PATH")
    shim = tmp_path / "bin"
    shim.mkdir()
    log = tmp_path / "readlink.log"
    (shim / "readlink").write_text(
        f'#!/bin/sh\necho "$@" >> {log}\nexec {real} "$@"\n'
    )
    (shim / "readlink").chmod(0o755)
    env = dict(
        os.environ,
        PATH=f"{shim}{os.pathsep}{os.environ.get('PATH', '')}",
        PYTHONPATH=ROOT,
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    run = subprocess.run(
        [sys.executable, "-c", _READLINK_RUN, str(tmp_path)],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    calls = log.read_text().splitlines() if log.exists() else []
    assert calls == [], f"{len(calls)} readlink calls, first: {calls[:3]}"


def _source_code_size_count(spark):
    """Classes Janino has compiled in this JVM (one count per class)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_SOURCE_CODE_SIZE().getCount()


@pytest.mark.parametrize("operator", ["heavy_hitters", "topk"])
def test_warm_stream_compiles_no_new_class(spark, operator):
    """A second run of the same 3-trigger stream compiles nothing: the
    state encoder's generated code is the same text on every trigger,
    so every class comes from the codegen cache."""
    from incubator_flink_old_spark.streaming import (
        replay_source,
        run_stream_to_memory,
        stateful_heavy_hitters,
        stateful_topk,
    )

    def build(stream):
        if operator == "topk":
            return stateful_topk(stream, k=2)
        return stateful_heavy_hitters(stream, k=2, value="event_id")

    compiled = []
    for run in range(2):
        with replay_source(_batches(spark, _three_files())) as stream:
            before = _source_code_size_count(spark)
            run_stream_to_memory(
                build(stream),
                f"codegen_{operator}_{run}",
                "update",
                state_partitions=2,
            )
            compiled.append(_source_code_size_count(spark) - before)
    assert compiled[1] == 0, compiled


def test_state_checksum_files_still_written(spark, tmp_path):
    """The state store keeps wrapping the checkpoint manager in its
    checksum manager: every state delta has its checksum file, and
    both have the file system's .crc."""
    from incubator_flink_old_spark.streaming import replay_source, stateful_topk

    ckpt = str(tmp_path / "ckpt")
    with replay_source(_batches(spark, _three_files())) as stream:
        q = (
            stateful_topk(stream, k=2)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("checksum_files")
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
    deltas = 0
    for dirpath, _, files in os.walk(os.path.join(ckpt, "state")):
        names = set(files)
        for name in names:
            if name.endswith(".delta"):
                deltas += 1
                for want in (
                    f"{name}.crc",
                    f".{name}.crc",
                    f".{name}.crc.crc",
                ):
                    assert want in names, (dirpath, want, sorted(names))
    assert deltas >= 3


def _bits(v):
    return struct.pack(">d", v)


def test_topk_state_roundtrips_adversarial_doubles(spark):
    """Scores pass through the JSON state between triggers bit for bit:
    the final emission equals the batch top-k over the same rows, down
    to the sign of zero and the smallest subnormal."""
    from pyspark.sql import Window

    from incubator_flink_old_spark.streaming import (
        replay_source,
        stateful_topk,
        stream_result,
    )

    k = 6
    files = [
        [("a", i, v) for i, v in enumerate(_ADVERSARIAL)]
        + [("b", 10 + i, v) for i, v in enumerate(_ADVERSARIAL)],
        [("a", 20, 0.3), ("a", 21, -5e-324), ("b", 22, -1.0)],
        [("a", 30, -2.0), ("b", 31, 0.30000000000000004)],
    ]
    batches = _batches(spark, files)
    rows = functools.reduce(DataFrame.unionByName, batches)
    written = {_bits(r.value) for r in rows.collect()}
    assert {_bits(v) for v in _ADVERSARIAL} <= written
    with replay_source(batches) as stream:
        tbl = stream_result(
            stateful_topk(stream, k=k), "update", state_partitions=2
        )
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), "event_id"
    )
    batch = sorted(
        (r.event_type, r.event_id, _bits(r.value), r.rnk)
        for r in rows.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .collect()
    )
    last = F.max("seen").over(Window.partitionBy("event_type"))
    streamed = sorted(
        (r.event_type, r.event_id, _bits(r.value), r.batch_rank)
        for r in tbl.withColumn("mx", last)
        .filter(F.col("seen") == F.col("mx"))
        .collect()
    )
    assert streamed == batch
    assert {_bits(v) for v in _ADVERSARIAL} <= {b for _, _, b, _ in streamed}
