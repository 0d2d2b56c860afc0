"""The staged-artifact lifecycle: a ``session.staged`` scope releases every
frame it keeps, persisted or locally checkpointed, also when its body
raises; the iterations keep only the checkpoint their result reads; and
the rows that write files they read back leave nothing under the temp
dir once their process exits."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from incubator_flink_old_spark.session import release, staged

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _persistent(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _checkpoint_rdd(df) -> int:
    return df._jdf.logicalPlan().rdd().id()


def test_staged_releases_persist_and_checkpoint_on_error(spark):
    before = _persistent(spark)
    with pytest.raises(RuntimeError, match="mid-query"):
        with staged() as st:
            cached = st.keep(spark.range(20).persist())
            cached.count()
            ckpt = st.keep(spark.range(10).localCheckpoint(eager=True))
            assert len(_persistent(spark) - before) == 2
            raise RuntimeError("mid-query failure")
    assert _persistent(spark) <= before
    # A released checkpoint fails loudly instead of recomputing.
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        ckpt.collect()


def test_release_rejects_an_unpinned_frame(spark):
    with pytest.raises(ValueError, match="is neither persisted nor"):
        release(spark.range(3))


def test_drift_audit_not_tripped_in_a_stage_leaves_nothing(spark):
    """The audit checkpoints its digest before the fail-loud gate; the
    designed not-tripped ValueError still releases it."""
    from incubator_flink_old_spark.operators.text import winnow_drift_audit

    base = spark.createDataFrame([("f1", 20), ("f2", 3)], "fp string, df long")
    delta = spark.createDataFrame([("f1", 10)], "fp string, df long")
    before = _persistent(spark)
    with pytest.raises(ValueError, match="not tripped"):
        with staged() as st:
            winnow_drift_audit(
                base, delta, max_df=25, n_base=80, n_delta=20,
                min_skew=2.5, stage=st,
            )
    assert _persistent(spark) <= before


def test_bulk_iterate_holds_only_its_result(spark):
    from incubator_flink_old_spark.operators.iterations import bulk_iterate

    before = _persistent(spark)
    out = bulk_iterate(
        spark.range(8).select(F.col("id"), F.lit(0).alias("v")),
        lambda df, i: df.select("id", (F.col("v") + F.col("id")).alias("v")),
        max_iterations=5,
    )
    assert _persistent(spark) - before == {_checkpoint_rdd(out)}
    assert sorted(r.v for r in out.collect()) == [5 * i for i in range(8)]
    release(out)


def test_delta_iterate_holds_only_its_result(spark):
    """A 3-round toy: the workset counts down from 3, each round upserts
    the solution with the current count, and the loop drains."""
    from incubator_flink_old_spark.operators.iterations import delta_iterate

    rounds = []

    def step(solution, workset, i):
        rounds.append(i)
        delta = workset.select("id", F.col("n").alias("v"))
        return delta, workset.filter(F.col("n") > 1).select(
            "id", (F.col("n") - 1).alias("n")
        )

    before = _persistent(spark)
    out = delta_iterate(
        spark.range(2).select("id", F.lit(0).cast("long").alias("v")),
        spark.range(2).select("id", F.lit(3).cast("long").alias("n")),
        step,
        keys=["id"],
    )
    assert rounds == [0, 1, 2]
    assert _persistent(spark) - before == {_checkpoint_rdd(out)}
    assert sorted((r.id, r.v) for r in out.collect()) == [(0, 1), (1, 1)]
    release(out)


def test_layout_rows_leave_no_scratch_dir_after_exit(tmp_path, sf_dir):
    """Two rows that write files their returned frames scan lazily leave
    no ``t2_*`` dir (and no scratch root) under the temp dir once their
    process exits."""
    if not os.path.isdir(sf_dir):
        pytest.skip("no testdata")
    script = (
        "from incubator_flink_old_spark import get_spark\n"
        "from incubator_flink_old_spark.queries import QUERIES, load_all_queries\n"
        "load_all_queries()\n"
        "spark = get_spark('scratch-dirs')\n"
        "for q in ('q_csv_roundtrip', 'q_zorder_layout'):\n"
        f"    assert QUERIES[q](spark, {sf_dir!r}).count() > 0\n"
        "import os, tempfile\n"
        "print(sorted(os.listdir(tempfile.gettempdir())))\n"
    )
    env = dict(
        os.environ,
        TMPDIR=str(tmp_path),
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    run = subprocess.run(
        [sys.executable, "-c", script],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    assert "spark_graft_rows_" in run.stdout  # the rows did write there
    left = [
        e for e in os.listdir(tmp_path)
        if e.startswith(("t2_", "spark_graft_rows_"))
    ]
    assert left == []
