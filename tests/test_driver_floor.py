"""The driver-side build floor: get_spark turns off PySpark's per-call
DataFrame call-site capture, simhash16 parses its bit sum from one SQL
expression, minhash_bands parses its signature and band projection, and
simhash_pairs probes its input's width once, so building it runs no
Spark job."""

from __future__ import annotations

import contextlib

import pyarrow as pa
import pyarrow.parquet as pq
from py4j import protocol as proto

from incubator_flink_old_spark.operators.text import (
    minhash_bands,
    simhash16,
    simhash_pairs,
)
from incubator_flink_old_spark.sources import load_table
from tests.test_sources_memo import _jobs_run_by


#: Prefix of py4j's object-release command. py4j sends a release when
#: Python's GC collects a JavaObject, so how many land inside a block
#: follows GC timing, not the code built there; they are not counted.
_RELEASE = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME


@contextlib.contextmanager
def _py4j_calls(spark):
    """Count the py4j round trips made inside the block, object releases
    aside."""
    client = spark.sparkContext._gateway._gateway_client
    orig = client.send_command
    counter = {"calls": 0}

    def counting_send(command, *args, **kwargs):
        if not command.startswith(_RELEASE):
            counter["calls"] += 1
        return orig(command, *args, **kwargs)

    client.send_command = counting_send
    try:
        yield counter
    finally:
        del client.send_command  # back to the class method


def test_get_spark_turns_off_call_site_capture(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_simhash16_build_round_trips(spark):
    docs = spark.createDataFrame([(1, "a b c"), (2, "b c d")], "doc_id long, text string")
    with _py4j_calls(spark) as counter:
        simhash16(docs)
    # Spark 4.1.2: 2,650-3,300 round trips with call-site capture on and
    # the bit sum built from Column objects, 930-1,300 with capture off,
    # 145-170 with the sum parsed from one SQL expression as well
    # (object releases included).
    assert counter["calls"] <= 500, counter


def test_minhash_bands_build_round_trips(spark):
    docs = spark.createDataFrame([(1, "a b c"), (2, "b c d")], "doc_id long, text string")
    with _py4j_calls(spark) as counter:
        minhash_bands(docs, num_hashes=8, band_size=4)
    # Spark 4.1.2: 567-1,453 round trips with the eight signature lambdas
    # and the band md5s built from Column objects; under 250 with both
    # parsed from SQL text.
    assert counter["calls"] <= 350, counter


def test_simhash_pairs_build_runs_no_job(spark, tmp_path):
    # One row group scans as one partition, so _spread_narrow repartitions
    # it whenever defaultParallelism >= 4; a second width probe on that
    # repartitioned frame would run its shuffle-map job under AQE. Below a
    # width of 4 nothing is repartitioned and the test cannot tell.
    pq.write_table(
        pa.table({"doc_id": [1, 2, 3], "text": ["a b c", "a b d", "x y z"]}),
        tmp_path / "documents.parquet",
    )
    docs = load_table(spark, str(tmp_path), "documents")
    pairs, jobs = _jobs_run_by(spark, lambda: simhash_pairs(docs, max_hamming=1))
    assert jobs == []
    sigs = {r["doc_id"]: r["simhash"] for r in simhash16(docs).collect()}
    naive = {
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for a in sigs
        for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 1
    }
    assert {tuple(r) for r in pairs.collect()} == naive
