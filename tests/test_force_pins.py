"""streaming.force_pins: the pin jobs run under the caller's job group, and
the first failing pin cancels the other pins of its call and raises."""

from __future__ import annotations

import time
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from incubator_flink_old_spark.streaming import force_pins

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def _settled_jobs(sc, group: str) -> list:
    """Job infos of ``group`` once none of them reads RUNNING any more."""
    tracker = sc.statusTracker()
    for _ in range(200):
        infos = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        if all(i is not None and i.status != "RUNNING" for i in infos):
            return infos
        time.sleep(0.05)
    return infos


def test_pin_jobs_carry_the_callers_job_group(spark):
    sc = spark.sparkContext
    group = f"pins-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "force_pins job group")
    try:
        force_pins(spark.range(10), spark.range(20), spark.range(30))
    finally:
        for prop in _GROUP_PROPS:
            sc.setLocalProperty(prop, None)
    infos = _settled_jobs(sc, group)
    assert len(infos) >= 3
    assert all(i.status == "SUCCEEDED" for i in infos)


def test_failing_pin_raises_and_cancels_the_other_pins(spark):
    @F.udf(T.BooleanType())
    def slow(_):
        time.sleep(60)
        return True

    slow_pin = spark.range(0, 2, 1, 2).where(slow("id"))
    bad_pin = spark.range(1).where(F.expr("raise_error('pin failed') IS NULL"))
    sc = spark.sparkContext
    group = f"pins-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "force_pins failure")
    t0 = time.perf_counter()
    try:
        with pytest.raises(Exception, match="pin failed"):
            force_pins(slow_pin, bad_pin)
    finally:
        for prop in _GROUP_PROPS:
            sc.setLocalProperty(prop, None)
    # the slow pin would hold the call for 60 s had it not been cancelled
    assert time.perf_counter() - t0 < 30
    infos = _settled_jobs(sc, group)
    assert len(infos) == 2
    assert all(i.status == "FAILED" for i in infos)
