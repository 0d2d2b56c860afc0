"""Multi-dimensional data layout: Z-order (Morton) clustering.

The third leg of the repo's materialized-layout family (SURVEY §2.11 /
the 100 TB posture): `q_dedup_minhash_layout` buckets by the candidate
join key, `q_ann_recall_ivf_layout` partitions by IVF cell, and this
module clusters a fact table along a SPACE-FILLING CURVE over two or
more query dimensions, so parquet row-group min/max statistics become
tight on EVERY interleaved dimension at once and a rectangle predicate
prunes most of the file bytes — the layout trick behind Delta/Iceberg
`OPTIMIZE ZORDER BY`, built here from plain Column bit arithmetic.

Why it matters at 100 TB: a table range-partitioned on one key prunes
only that key; a 2-D probe (user × time, geo × time, doc × score) on any
single-key layout still scans ~the full table on the other dimension.
Interleaving k quantized dimensions bounds every row group to a small
hyper-rectangle, so a selective k-D probe reads O(result) row groups.
PERF.md "Round 5: Z-order layout" gives the bytes-read ratio vs a
natural layout at sf0.1.

Everything is JVM-side Column arithmetic (shift/AND/OR): no UDF, no
shuffle beyond the one `repartitionByRange` that IS the layout build.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def quantize(col: Column, lo: int, hi: int, bits: int = 16) -> Column:
    """Map an integer column in [lo, hi] onto the [0, 2^bits) grid:
    down-scale wide spans with a fixed bucket width w = span div 2^bits
    + 1, then STRETCH narrow spans back up by s = 2^bits div (reduced
    span + 1) so a dimension with few distinct values (a small id space
    next to an epoch-micros axis) still occupies the HIGH z bit
    positions — without the stretch, the wide dimension's high bits
    dominate the curve and the layout degenerates to a 1-D sort on it
    (caught by tests/test_wave24.py's balanced-rectangle check).

    Bounds are plain Python ints (the caller collects one min/max row —
    literal bounds are also what lets probe predicates reach the parquet
    footer), so w and s are exact host-side integers; the one on-grid
    division floor((x-lo)/w) is exact for every x-lo < 2^53 (an
    epoch-rebased century ≈ 3.2e15 ≪ 2^53) and monotone unconditionally
    — all a LAYOUT key needs. Degenerate ranges (hi ≤ lo) map to 0."""
    span = hi - lo
    if span <= 0:
        return F.lit(0).cast("long")
    w = span // (1 << bits) + 1
    m = span // w  # max on-grid value before the stretch
    s = ((1 << bits) - 1) // m if m > 0 else 1
    q = F.floor((col.cast("long") - F.lit(lo)) / F.lit(w)).cast("long")
    if s > 1:
        q = q * F.lit(s)  # max lands at m*s <= 2^bits - 1 exactly
    # Clamp BOTH sides: a value under `lo` (an appended delta batch that
    # drifts below the base layout's recorded bounds) would otherwise go
    # negative, and interleave_bits' arithmetic shiftright sign-extends —
    # scrambling the z-order for those rows. Clamped rows degrade to the
    # boundary cell (pruning quality, never correctness: probes re-filter).
    return F.least(F.greatest(q, F.lit(0).cast("long")), F.lit((1 << bits) - 1))


def interleave_bits(cols: Sequence[Column], bits: int = 16) -> Column:
    """Morton-interleave k already-quantized columns (each in
    [0, 2^bits)) into one z-value: bit i of column j lands at position
    i*k + j. Pure shift/AND arithmetic — whole-stage-codegen'd, no UDF.
    k * bits must be ≤ 62 (result stays a positive BIGINT)."""
    k = len(cols)
    if k * bits > 62:
        raise ValueError(f"{k} dims x {bits} bits exceeds a signed long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(cols):
            bit = F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, i * k + j)
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    dims: Sequence[tuple[Column, int, int]],
    bits: int = 16,
    n_files: int = 16,
) -> None:
    """One-time layout build: cluster ``df`` along the Morton curve of
    ``dims`` (each a (column, lo, hi) triple of integer bounds) and
    write ``n_files`` parquet range-slices of the curve. Row groups then
    carry tight min/max on EVERY dim, so any selective conjunction of
    range predicates prunes at the footer level. The `repartitionByRange`
    is the build's single shuffle; probes never shuffle."""
    qcols = [quantize(c, lo, hi, bits) for (c, lo, hi) in dims]
    z = interleave_bits(qcols, bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def append_zordered(
    df: DataFrame,
    path: str,
    dims: Sequence[tuple[Column, int, int]],
    bits: int = 16,
    n_files: int = 4,
) -> None:
    """Incremental layout maintenance, step 1: land a DELTA batch as its
    own z-sorted run inside the same layout directory (mode=append).
    New data never rewrites the base — the write cost is O(batch), and
    because the delta run is itself Morton-clustered with the SAME dims
    and grid bounds, its files carry tight per-dim min/max too, so a
    probe over base+delta still prunes both. The trade is run count:
    every batch adds files, so probes touch more footers until a
    compaction (:func:`compact_zordered`) folds the runs together —
    exactly the LSM discipline every 100 TB table layout runs on.

    Deltas whose dim values fall OUTSIDE the base layout's recorded
    bounds are clamped to the boundary cells by :func:`quantize` —
    correct (probes re-filter on real values) but those rows cluster at
    the grid edge, degrading pruning for them; re-record bounds at the
    next compaction if drift is systematic."""
    qcols = [quantize(c, lo, hi, bits) for (c, lo, hi) in dims]
    z = interleave_bits(qcols, bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("append")
        .parquet(path)
    )


def compact_zordered(
    spark,
    path: str,
    out_path: str,
    dims: Sequence[tuple[Column, int, int]],
    bits: int = 16,
    n_files: int = 16,
) -> None:
    """Incremental layout maintenance, step 2: fold all runs at ``path``
    (base + any appended deltas) into one fresh Morton-clustered layout
    at ``out_path``. One shuffle over the table — the periodic
    maintenance cost that restores probe-side file counts after a
    window of appends. Row content is untouched (pure permutation), so
    any probe result is invariant across base / base+delta / compacted —
    the law tests/test_wave25.py pins."""
    write_zordered(
        spark.read.parquet(path), out_path, dims, bits=bits, n_files=n_files
    )
