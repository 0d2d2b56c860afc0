"""Shared helpers for the t2 query modules."""

from __future__ import annotations

import atexit
import functools
import shutil
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from incubator_flink_old_spark.sources import load_table


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@functools.cache
def _scratch_root() -> str:
    root = tempfile.mkdtemp(prefix="spark_graft_rows_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def scratch_dir(prefix: str) -> str:
    """A fresh directory for files a row writes and its returned frame
    scans lazily, so the row cannot remove it: all of them live under one
    per-process root, removed when the interpreter exits."""
    return tempfile.mkdtemp(prefix=prefix, dir=_scratch_root())


def dsum(col, alias: str, scale: int = 6) -> Column:
    """Bit-stable double sum (see aggregates.exact_sum); SQL twin is
    CAST(SUM(CAST(x AS DECIMAL(27,scale))) AS DOUBLE).

    Cross-engine contract (hypothesis-audited): Spark's double→decimal
    cast rounds the shortest decimal repr (Java Double.toString) while
    DuckDB rounds the exact binary value. For full-mantissa doubles these
    can disagree in the last decimal (found at 5.37e8), but for any value
    with ≤``scale``-decimal structure AND magnitude below ~4e9 (above
    that, ulp > 1e-6 and the decimal structure itself is unrepresentable)
    — every fixture money/value column, and any product/sum of such
    values — both roundings land on the same grid point, exactly. The engine therefore only decimal-routes columns
    with decimal-structured data and never casts transcendental outputs
    (sqrt/cos scores are rounded instead). (A VARCHAR hop on the DuckDB
    side was tried and reverted: DuckDB's scientific-notation→decimal
    parse misrounds tiny values like 5.9e-08 → 0.000001.)"""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(27,{scale})")).cast("double").alias(alias)


def davg(col, alias: str, scale: int = 6) -> Column:
    """Bit-stable double mean: exact decimal sum cast to double, THEN an
    IEEE double division by the exact count — identical in any engine.
    (Dividing while still decimal is NOT portable: engines disagree on
    division result scale/rounding.)"""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast(f"decimal(27,{scale})")).cast("double") / F.count(c)).alias(alias)


SQL_DSUM = "CAST(SUM(CAST({x} AS DECIMAL(27,6))) AS DOUBLE)"
SQL_DAVG = "CAST(SUM(CAST({x} AS DECIMAL(27,6))) AS DOUBLE) / COUNT({x})"


def sql_dsum(x: str) -> str:
    return SQL_DSUM.format(x=x)


def sql_davg(x: str) -> str:
    return SQL_DAVG.format(x=x)


def split_case_sql(key: str = "doc_id") -> str:
    """DuckDB CASE expression for the md5-Bernoulli 80/10/10
    train/val/test split — THE single source of the split law (the
    Spark twin is :func:`split_col`). The split is a property of the
    row key: stable across runs, engines, partitionings and dataset
    versions. Consumers: q_dataset_split, q_split_leakage, q_ks_drift."""
    b = f"('0x' || substr(md5(CAST({key} AS VARCHAR)), 1, 15))::BIGINT % 100"
    return (
        f"CASE WHEN {b} < 80 THEN 'train' "
        f"WHEN {b} < 90 THEN 'val' ELSE 'test' END"
    )


def split_col(key: str = "doc_id") -> Column:
    """Spark twin of :func:`split_case_sql` — same md5 bucket, same
    boundaries, byte-identical assignment."""
    b = (
        F.conv(F.substring(F.md5(F.col(key).cast("string")), 1, 15), 16, 10)
        .cast("long")
        % 100
    )
    return (
        F.when(b < 80, F.lit("train"))
        .when(b < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def vec_id_thirds(delta: DataFrame) -> tuple[DataFrame, ...]:
    """The streamed delta of the vector-maintenance rows as replay
    batches: three vec_id ranges cut at hi//3 and 2·(hi//3), or ONE batch
    when the delta is empty or tiny — the cuts would degenerate (or fail
    on a None max); the parity laws are batch-boundary-invariant by
    construction (ADVICE r07)."""
    hi = delta.agg(F.max("vec_id")).collect()[0][0]  # 1-row bound
    if hi is None or hi < 3:
        return (delta,)
    lo_cut, hi_cut = hi // 3, 2 * (hi // 3)
    v = F.col("vec_id")
    return (
        delta.filter(v <= lo_cut),
        delta.filter((v > lo_cut) & (v <= hi_cut)),
        delta.filter(v > hi_cut),
    )
