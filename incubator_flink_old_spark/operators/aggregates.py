"""Aggregations, grouped programs, sort/limit/top-k (SURVEY.md §2.4/§2.5).

Reference sites (public Stratosphere tree):
- ReduceOperator.java -> ReduceDriver + ReduceCombineDriver (map-side
  combine)
- GroupReduceOperator.java -> GroupReduceDriver (sort-based grouping via
  UnilateralSortMerger; @Combinable optional combine phase)
- AggregateOperator.java + api/java/aggregation/ (SUM/MIN/MAX — the whole
  built-in agg library; COUNT/AVG were user-composed)
- AllReduceDriver / AllGroupReduceDriver (global aggregation)
- SortedGrouping.java / ReduceOperator.secondaryOrder (secondary sort)
- GenericDataSinkBase global ordering (range partition + local sort)

Spark upgrades for free: hash aggregation (reference was sort-only),
partial aggregation, codegen. The engine adds the idiomatic agg superset
(count/avg/count_distinct/approx_count_distinct, cube/rollup) as
extensions, per SURVEY §2.4 A3/A7.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: A3 — the reference's built-in aggregation enum (Aggregations.SUM/MIN/MAX)
#: plus the engine's extension set.
AGGREGATIONS: dict[str, Callable[[str], Column]] = {
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    # engine extensions (user-composed in the reference):
    "count": F.count,
    "avg": F.avg,
    "count_distinct": F.count_distinct,
    "approx_count_distinct": F.approx_count_distinct,
}


def exact_sum(col: Column | str, scale: int = 6) -> Column:
    """Order-independent sum of a double expression, returned as double.

    Summing IEEE doubles is order-dependent; at cluster scale partition
    order is nondeterministic, so two runs (or engine-vs-oracle) can
    differ in the last ulps. Routing the per-row value through a decimal
    cast makes the aggregate exact and therefore bit-stable regardless of
    partitioning — the engine's default for money-typed sums.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(27,{scale})")).cast("double")


def exact_avg(col: Column | str, scale: int = 6) -> Column:
    """Order-independent mean (decimal sum / count), as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(27,{scale})")).cast("double") / F.count(c)


def aggregate(
    df: DataFrame,
    keys: list[str],
    *aggs: tuple[str, str, str] | Column,
) -> DataFrame:
    """A1/A3/A4: groupBy(keys).aggregate(SUM, f).and(MIN, g)…

    ``aggs`` entries are either (op_name, column, alias) triples using the
    AGGREGATIONS registry, or raw Column aggregate expressions. Empty
    ``keys`` = global aggregation (AllReduce — reference runs it at
    parallelism 1; Spark still computes partials distributed, only the
    final combine is single-task).
    """
    cols = [
        a if isinstance(a, Column) else AGGREGATIONS[a[0]](a[1]).alias(a[2])
        for a in aggs
    ]
    return df.groupBy(*keys).agg(*cols) if keys else df.agg(*cols)


def group_reduce(
    df: DataFrame,
    keys: list[str],
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema,
) -> DataFrame:
    """A2: groupBy(keys).reduceGroup(GroupReduceFunction) — arbitrary group
    program: whole group in, N rows out, via Arrow-batched applyInPandas.

    Use only when the group body is genuinely non-relational; otherwise
    ``aggregate``/window functions keep the work JVM-side with partial
    aggregation (the reference's @Combinable). Spark hash-partitions by
    key; a group never spans partitions, matching reference semantics.
    """
    return df.groupBy(*keys).applyInPandas(lambda pdf: fn(pdf), schema=schema)


#: Back-compat alias — the SURVEY build plan refers to the pandas route.
reduce_group_pandas = group_reduce


def secondary_sort_apply(
    df: DataFrame,
    keys: list[str],
    order: list[tuple[str, bool]],
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema,
) -> DataFrame:
    """O1: groupBy(k).sortGroup(f, Order).reduceGroup(fn).

    Reference semantics: the group's records arrive at the UDF sorted by
    the secondary key (SortedGrouping / Record-API secondaryOrder). Spark's
    applyInPandas does NOT promise intra-group order, so the engine sorts
    inside the (already whole) group batch — same contract, vectorized.
    ``order`` is [(column_name, ascending), ...]; the sort is stable.
    """
    names = [n for n, _ in order]
    ascending = [a for _, a in order]

    def _run(pdf: pd.DataFrame) -> pd.DataFrame:
        return fn(pdf.sort_values(names, ascending=ascending, kind="mergesort"))

    return df.groupBy(*keys).applyInPandas(_run, schema=schema)


def first_n(df: DataFrame, n: int) -> DataFrame:
    """O4: first(n) — any n records (reference takes first-arriving)."""
    return df.limit(n)


def top_k(df: DataFrame, order: list[Column], k: int) -> DataFrame:
    """O4 idiom: global top-k = orderBy + limit.

    Spark plans this as TakeOrderedAndProject — per-partition heaps of size
    k then a k-way driver merge; no global sort materializes, which is the
    correct 100TB shape. Callers must include a unique tie-breaker in
    ``order`` for deterministic results.
    """
    return df.orderBy(*order).limit(k)


def top_k_per_group(
    df: DataFrame, keys: list[str], order: list[Column], k: int, rank_alias: str = "rn"
) -> DataFrame:
    """A2/O4 idiom: per-group top-k via row_number window + filter.

    The reference wrote this as a reduceGroup keeping n records; the window
    form aggregates map-side-combinable and never materializes whole
    groups. Include a tie-breaker in ``order``.
    """
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn(rank_alias, F.row_number().over(w))
        .filter(F.col(rank_alias) <= k)
        .drop(rank_alias)
    )


def global_sort(df: DataFrame, *order: Column) -> DataFrame:
    """O2/S12: totally ordered output (range partition + local sort)."""
    return df.orderBy(*order)


def global_row_number(
    df: DataFrame,
    order: list[Column],
    alias: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed global row numbering — the scale path for rank/ntile/
    percent_rank over a total order (an empty-partitionBy window funnels
    ALL data through one task; this does not).

    Shape (all JVM-side — no Python evaluator anywhere in the plan):
    range-partition on the order keys, tag each row with its physical
    partition id (``spark_partition_id()``), number rows per partition
    with a ``row_number`` window keyed on that id, then add per-partition
    offsets via a broadcast join against a tiny (one row per partition)
    offsets table — the only driver-side data is that partition-size
    collect. The per-pid window does hash-exchange on ``__pid``, but each
    reducer handles whole partitions, so the work stays balanced and
    distributed (vs. an empty-partitionBy window funnelling ALL rows
    through one task). The result is deterministic for a fully tie-broken
    ``order`` regardless of where the range sampler draws boundaries.
    """
    ranged = (
        df.repartitionByRange(*order)
        if num_partitions is None
        else df.repartitionByRange(num_partitions, *order)
    )

    local_w = Window.partitionBy("__pid").orderBy(*order)
    # Materialize before the sizes collect: the offset join must see the
    # SAME pid assignment the sizes were measured on (range-boundary
    # sampling would otherwise re-run and could land differently).
    indexed = (
        ranged.withColumn("__pid", F.spark_partition_id())
        .withColumn("__local", F.row_number().over(local_w).cast("long"))
        .localCheckpoint(eager=True)
    )
    sizes = {
        r["__pid"]: r["n"]
        for r in indexed.groupBy("__pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(sizes):
        offsets.append((pid, acc))
        acc += sizes[pid]
    spark = df.sparkSession
    from incubator_flink_old_spark.sources import local_rows

    offsets_df = local_rows(spark, offsets, "__pid int, __offset long")
    return (
        indexed.join(F.broadcast(offsets_df), "__pid", "left")
        .withColumn(alias, F.coalesce(F.col("__offset"), F.lit(0)) + F.col("__local"))
        .drop("__pid", "__local", "__offset")
    )


def per_group_row_number(
    df: DataFrame,
    group: str,
    order: list[Column],
    alias: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """:func:`global_row_number`'s pattern applied PER GROUP — the
    mega-group skew path for grouped rank/percent_rank (VERDICT r11
    item 3): ``Window.partitionBy(group)`` funnels each group through
    ONE task, which at 100 TB with a CommonCrawl-sized dominant source
    is the first real skew cliff; here no task ever holds more than one
    range partition.

    Shape (all JVM-side): range-partition on (group, *order) — so each
    physical partition holds a CONTIGUOUS slice of the (group, order)
    space and a mega group spans MANY partitions; number rows with a
    window keyed on (partition id, group) — within one physical
    partition a group's rows are one contiguous run, balanced across
    reducers; then add per-(partition, group) offsets via a broadcast
    join against a tiny offsets table. The offsets collect is bounded
    STRUCTURALLY: contiguity means distinct (pid, group) pairs ≤
    n_partitions + n_groups − 1 (each partition adds at most one
    group-straddle), never O(rows).

    Deterministic for a fully tie-broken ``order`` regardless of where
    the range sampler draws boundaries — identical output to the
    single-window ``row_number() OVER (PARTITION BY group ORDER BY
    ...)`` (law-pinned in tests/test_wave47.py).
    """
    keys = [F.col(group)] + list(order)
    ranged = (
        df.repartitionByRange(*keys)
        if num_partitions is None
        else df.repartitionByRange(num_partitions, *keys)
    )
    local_w = Window.partitionBy("__pid", group).orderBy(*order)
    # Materialize before the sizes collect: the offset join must see
    # the SAME pid assignment the sizes were measured on (the
    # global_row_number discipline — range-boundary sampling would
    # otherwise re-run and could land differently).
    indexed = (
        ranged.withColumn("__pid", F.spark_partition_id())
        .withColumn("__local", F.row_number().over(local_w).cast("long"))
        .localCheckpoint(eager=True)
    )
    sizes = (
        indexed.groupBy("__pid", group)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()  # bounded: ≤ n_partitions + n_groups − 1 (contiguity)
    )
    acc: dict[object, int] = {}
    offsets = []
    for r in sorted(sizes, key=lambda r: r["__pid"]):
        g = r[group]
        offsets.append((r["__pid"], g, acc.get(g, 0)))
        acc[g] = acc.get(g, 0) + r["n"]
    spark = df.sparkSession
    from incubator_flink_old_spark.sources import local_rows

    gtype = dict(df.dtypes)[group]
    offsets_df = local_rows(
        spark,
        offsets,
        f"__opid int, __og {gtype}, __offset long",
    )
    # eqNullSafe on the group key: a NULL group is a legal rank group
    # under the single-window form (NULLs partition together), so the
    # offset lookup must match it too — plain equality would leave a
    # partition-straddling NULL group with offset 0 in every partition.
    return (
        indexed.join(
            F.broadcast(offsets_df),
            (F.col("__pid") == F.col("__opid"))
            & F.col(group).eqNullSafe(F.col("__og")),
            "left",
        )
        .withColumn(
            alias, F.coalesce(F.col("__offset"), F.lit(0)) + F.col("__local")
        )
        .drop("__pid", "__local", "__opid", "__og", "__offset")
    )


def global_prefix_agg(
    df: DataFrame,
    order: list[Column],
    values: dict[str, tuple[Column, str]],
    strict: bool = False,
) -> DataFrame:
    """Distributed RUNNING aggregate (max / sum) over a total order — the
    prefix-scan sibling of :func:`global_row_number`, closing the last
    "window with no partitionBy" class in the engine (VERDICT r04): an
    empty-partitionBy running frame funnels the whole frame through one
    task; this keeps it range-partitioned.

    ``values`` maps output alias -> (column, "max" | "sum"); every alias
    is computed in ONE pass over the same order. ``strict=True`` makes
    the frame end at the previous row (the skyline "strictly cheaper"
    prefix) — the first global row is then NULL.

    Shape: range-partition on the order keys; per-partition running
    aggregate via a window keyed on the physical partition id; one
    bounded collect of per-partition TOTALS (one row per partition —
    the global_row_number precedent); a broadcast join adds each
    partition's exclusive prefix of those totals, combined with the
    local running value (null-skipping ``greatest`` for max; null-aware
    addition for sum). Deterministic for any tie-broken ``order``
    regardless of where range boundaries land, because max/sum are
    reorder-safe combines of disjoint prefixes.
    """
    from incubator_flink_old_spark.sources import local_rows

    fns = {"max": F.max, "sum": F.sum}
    end = -1 if strict else 0
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, end)
    )
    indexed = df.repartitionByRange(*order).withColumn(
        "__pid", F.spark_partition_id()
    )
    for alias, (col, how) in values.items():
        indexed = indexed.withColumn(alias, fns[how](col).over(w))
    # Materialize before the totals collect: the prefix join must see the
    # SAME pid assignment the totals were measured on.
    indexed = indexed.localCheckpoint(eager=True)
    totals = {
        r["__pid"]: r
        for r in indexed.groupBy("__pid")
        .agg(*[fns[how](col).alias(a) for a, (col, how) in values.items()])
        .collect()
    }
    acc: dict[str, object] = {a: None for a in values}
    prevs = []
    for pid in sorted(totals):
        prevs.append((pid, *[acc[a] for a in values]))
        for a, (_, how) in values.items():
            v = totals[pid][a]
            if v is not None:
                if acc[a] is None:
                    acc[a] = v
                else:
                    acc[a] = max(acc[a], v) if how == "max" else acc[a] + v
    dtypes = dict(indexed.dtypes)
    schema = "__pid int, " + ", ".join(
        f"__prev_{a} {dtypes[a]}" for a in values
    )
    prev_df = local_rows(df.sparkSession, prevs, schema)
    out = indexed.join(F.broadcast(prev_df), "__pid", "left")
    for a, (_, how) in values.items():
        prev = F.col(f"__prev_{a}")
        if how == "max":
            comb = F.greatest(prev, F.col(a))  # greatest skips nulls
        else:
            comb = F.when(F.col(a).isNull(), prev).otherwise(
                F.coalesce(prev, F.lit(0).cast(dtypes[a])) + F.col(a)
            )
        out = out.withColumn(a, comb).drop(f"__prev_{a}")
    return out.drop("__pid")
