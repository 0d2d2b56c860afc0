"""load_table's footer-schema memo: the first read of a file version infers
its schema (one Spark job), later reads reuse it and run none, and a
rewritten file or a changed inference conf re-keys it."""

from __future__ import annotations

import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from incubator_flink_old_spark.sources import load_table

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def _jobs_run_by(spark, fn):
    """(fn's result, ids of the Spark jobs fn ran).

    The status tracker learns of jobs through the listener bus, in order,
    so a sentinel job runs after fn under a group of its own; once the
    sentinel shows up, every job fn ran has too."""
    sc = spark.sparkContext
    group = f"memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "load_table memo")
    try:
        out = fn()
        sc.setJobGroup(group + "-sentinel", "sentinel")
        spark.range(1).count()
    finally:
        for prop in _GROUP_PROPS:
            sc.setLocalProperty(prop, None)
    tracker = sc.statusTracker()
    for _ in range(200):
        if tracker.getJobIdsForGroup(group + "-sentinel"):
            break
        time.sleep(0.05)
    return out, sorted(tracker.getJobIdsForGroup(group))


def test_memo_hit_runs_no_job_and_matches_inference(spark, tmp_path):
    pq.write_table(pa.table({"k": [1, 2, 3], "s": ["a", "b", "c"]}), tmp_path / "t.parquet")
    first, cold_jobs = _jobs_run_by(spark, lambda: load_table(spark, str(tmp_path), "t"))
    second, warm_jobs = _jobs_run_by(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert cold_jobs, "the first read infers the schema with a Spark job"
    assert warm_jobs == []
    assert second.schema == spark.read.parquet(str(tmp_path / "t.parquet")).schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_rekeys_the_memo(spark, tmp_path):
    pq.write_table(pa.table({"k": [1, 2]}), tmp_path / "t.parquet")
    assert load_table(spark, str(tmp_path), "t").columns == ["k"]
    pq.write_table(pa.table({"k": [1, 2], "extra": [0.5, 1.5]}), tmp_path / "t.parquet")
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "extra"]
    assert sorted(r["extra"] for r in df.collect()) == [0.5, 1.5]


def test_inference_conf_is_part_of_the_key(spark, tmp_path):
    key = "spark.sql.legacy.parquet.nanosAsLong"
    pq.write_table(pa.table({"k": [1]}), tmp_path / "t.parquet")
    load_table(spark, str(tmp_path), "t")
    prev = spark.conf.get(key)
    spark.conf.set(key, "false" if prev == "true" else "true")
    try:
        _, jobs = _jobs_run_by(spark, lambda: load_table(spark, str(tmp_path), "t"))
    finally:
        spark.conf.set(key, prev)
    assert jobs, "a flipped inference conf must infer again"


def test_nanos_column_is_truncated_the_same_on_a_memo_hit(spark, tmp_path):
    nanos = [1_704_067_200_123_456_789, -1_500, None]
    ts = pa.array(nanos, type=pa.timestamp("ns"))
    pq.write_table(pa.table({"event_id": [1, 2, 3], "ts": ts}), tmp_path / "events.parquet")
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"

    def micros(df):
        return sorted(
            (r["event_id"], r["us"])
            for r in df.select("event_id", F.unix_micros("ts").alias("us")).collect()
        )

    first = load_table(spark, str(tmp_path), "events")
    second, jobs = _jobs_run_by(spark, lambda: load_table(spark, str(tmp_path), "events"))
    assert jobs == []
    assert dict(first.dtypes)["ts"] == dict(second.dtypes)["ts"] == "timestamp"
    # truncated toward zero, as DuckDB reads the same file
    expected = [(1, 1_704_067_200_123_456), (2, -1), (3, None)]
    assert micros(first) == micros(second) == expected
