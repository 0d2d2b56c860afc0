"""Sketch-accelerated exact operators: Bloom-prefiltered decontamination
and threshold heavy hitters (engine extensions for the 100 TB curation
path; absent in the reference — SURVEY §2.10 W7 family).

Both follow the same design law: **the sketch only prunes, an exact pass
decides** — so results are bit-identical to the naive formulation (and
share its DuckDB oracle) while the shuffle/broadcast volume scales with
the *answer*, not the corpus:

- Bloom decontamination: the benchmark n-gram set broadcasts as a
  ~10-bits-per-gram bit array instead of an 8-byte-per-gram hash set
  (≈6× smaller; the win grows with eval-suite size). Corpus grams that
  fail the Bloom test — the overwhelming majority — are dropped map-side
  and never shuffle; only Bloom-positive grams (true hits + the bounded
  false-positive mass) reach the exact anti-leak join. Bloom "no" is
  definitive, so exactness is preserved by construction.
- Heavy hitters: an item with global count ≥ T must have count ≥ T/P in
  at least one of P partitions (pigeonhole), so per-partition pruning at
  T/P yields a candidate superset with zero false negatives; an exact
  recount restricted to candidates applies the real threshold. The
  full-vocabulary shuffle (distinct grams per partition — the scan
  bottleneck for trillion-gram corpora) is replaced by a candidate-only
  shuffle.

The Bloom bit array lives in a ONE-ROW DataFrame of ``array<bigint>``
words that rides a broadcast nested-loop join; membership tests are pure
Column bit ops (element_at / shiftright / bitwiseAND) — no Python in the
per-gram path. Candidate discovery for heavy hitters is the sanctioned
Arrow path (mapInPandas over the single value column): per-partition
counting is imperative by nature and Spark exposes no pre-shuffle hook
for it.
"""

from __future__ import annotations

import functools
import math
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _bloom_positions(val: Column, num_bits: int, num_hashes: int) -> list[Column]:
    """The ``num_hashes`` bit positions of a BIGINT value, by standard
    double hashing: pos_i = (h1 + (i+1)·h2) mod num_bits with h1 the
    value itself (callers pass already-hashed 64-bit grams) and h2 an
    independent xxhash64 re-hash. Pure Column arithmetic."""
    h1 = val.cast("long")
    h2 = F.xxhash64(val, F.lit(0x9E3779B9))
    return [
        F.pmod(h1 + F.lit(i + 1) * h2, F.lit(num_bits)).cast("long")
        for i in range(num_hashes)
    ]


def bloom_build(
    values: DataFrame, col: str = "g", num_bits: int = 1 << 17, num_hashes: int = 5
) -> DataFrame:
    """Build a Bloom filter over a BIGINT column; returns a ONE-ROW
    DataFrame ``(__bf array<bigint>)`` of ``num_bits/64`` words, ready to
    broadcast into :func:`bloom_might_contain` probes.

    The bit array aggregates distributively: positions explode, fold to
    (word, mask) pairs, and a combinable ``bit_or`` per word reduces them
    — map-side partials carry at most ``num_bits/64`` rows per partition
    regardless of input size. The final word list is collected (bounded:
    2048 rows at the default 2^17 bits = 16 KiB) and re-emitted as a
    single array row, the form a broadcast join can ship once per
    executor: one array literal parsed from SQL text over range(1), so
    the row needs no Python worker and costs one py4j call.
    """
    from incubator_flink_old_spark.operators.similarity import _sql_bigint_array

    if num_bits % 64 != 0:
        raise ValueError("num_bits must be a multiple of 64")
    n_words = num_bits // 64
    pos = values.select(
        F.explode(
            F.array(*_bloom_positions(F.col(col), num_bits, num_hashes))
        ).alias("__p")
    )
    words = (
        pos.select(
            (F.col("__p") / 64).cast("int").alias("__w"),
            # call_function: the PySpark shiftleft wrapper insists on an
            # int-literal shift; the SQL function itself takes any expr
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (F.col("__p") % 64).cast("int")
            ).alias("__m"),
        )
        .groupBy("__w")
        .agg(F.bit_or("__m").alias("__m"))
    )
    filled = {r["__w"]: r["__m"] for r in words.collect()}
    arr = [filled.get(w, 0) for w in range(n_words)]
    return values.sparkSession.range(0, 1, 1, 1).select(
        F.expr(_sql_bigint_array(arr)).alias("__bf")
    )


def bloom_might_contain(
    val: Column, bf: Column, num_bits: int, num_hashes: int
) -> Column:
    """Membership test against a Bloom word array column: all
    ``num_hashes`` bits set → possibly present; any clear → definitely
    absent. Pure Column bit ops (JVM, codegen)."""
    tests = [
        F.call_function(
            "shiftright",
            F.element_at(bf, (p / 64).cast("int") + 1),
            (p % 64).cast("int"),
        ).bitwiseAND(F.lit(1).cast("long"))
        == 1
        for p in _bloom_positions(val, num_bits, num_hashes)
    ]
    return functools.reduce(lambda a, b: a & b, tests)


def decontaminate_bloom(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text: str = "text",
    key: str = "doc_id",
    num_bits: int = 1 << 17,
    num_hashes: int = 5,
) -> DataFrame:
    """Eval-set decontamination with a Bloom prefilter — output identical
    to :func:`operators.text.decontaminate` (same columns, same rows,
    same oracle), different 100 TB posture: the benchmark gram set
    broadcasts as a fixed-size bit array, and corpus grams that fail the
    Bloom test die map-side before any join. Only Bloom-positive grams
    (true contamination + the ~(1-e^{-kn/m})^k false-positive mass) meet
    the exact gram set, so the verify join's input scales with hits, not
    corpus size. Bloom negatives are definitive → no false "clean" docs;
    false positives are removed by the exact join → no false flags.
    """
    from incubator_flink_old_spark.operators.text import exploded_ngrams, tokens

    bench_grams = exploded_ngrams(
        benchmark.select(tokens(text).alias("__tka")), n, carry=()
    ).distinct()
    bf = bloom_build(bench_grams, "g", num_bits, num_hashes)

    # Bloom test BEFORE the per-doc distinct: the predicate is per-row, so
    # filter∘distinct ≡ distinct∘filter — but filtering first means the
    # distinct's exchange carries only Bloom-positive grams instead of the
    # full corpus gram stream (the whole point of the prefilter).
    doc_grams = exploded_ngrams(
        df.select(F.col(key).alias(key), tokens(text).alias("__tka")),
        n,
        carry=(key,),
    )
    filtered = doc_grams.join(F.broadcast(bf)).filter(
        bloom_might_contain(F.col("g"), F.col("__bf"), num_bits, num_hashes)
    )
    # Generate barrier (the _verify_barrier move): without it Catalyst
    # pushes the exact LeftSemi join BELOW the Bloom filter, running the
    # large exact-set join first and reducing the sketch to a no-op —
    # observed on the physical plan. Predicates/joins cannot cross a
    # Generate, so the order stays bloom-prune → distinct → exact verify.
    from incubator_flink_old_spark.operators.text import _verify_barrier

    filtered = _verify_barrier(filtered, F.struct(F.col(key), F.col("g")))
    candidates = filtered.select(key, "g").distinct()
    hits = (
        candidates.join(F.broadcast(bench_grams), on="g", how="left_semi")
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("__h"))
    )
    return (
        df.select(F.col(key).alias(key))
        .join(hits, on=key, how="left")
        .select(
            key,
            F.coalesce("__h", F.lit(0)).alias("n_hits"),
            (F.coalesce("__h", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def heavy_hitters(
    df: DataFrame, threshold: int, num_partitions: Optional[int] = None
) -> DataFrame:
    """Exact threshold heavy hitters over a single-column DataFrame:
    every value occurring ≥ ``threshold`` times globally, with its exact
    count — ``(value, cnt)``.

    Two passes, candidate-only shuffle (the Misra-Gries / SpaceSaving
    distributed pattern made exact):

    1. **Local prune** (mapInPandas, one Counter per partition): emit the
       values whose partition-local count ≥ ceil(threshold / P). By
       pigeonhole any globally-heavy value clears this bar somewhere, so
       the candidate set has zero false negatives under ANY partitioning
       of the input — the output is partition-invariant even though the
       candidate set is not.
    2. **Exact recount**: broadcast-semi-join the (small) candidate set
       against the stream, aggregate, apply the real threshold.

    ``num_partitions`` must be an upper bound on the partitions pass 1
    runs over (defaults to the DataFrame's actual partitioning); an
    underestimate would raise the local bar above T/P and could lose
    true hitters, so it is the one knob that trades nothing — leave it.
    Local counters hold a partition's distinct values; at vocabulary
    scales beyond executor memory, lower ``threshold``'s dual (raise the
    local bar) by feeding pre-bucketed inputs, or cap with a SpaceSaving
    sketch — the pruning law is unchanged.

    WHEN TO USE (measured, PERF.md "Sketch-op probe results"): the
    prune only bites when ``threshold >> P`` (the local bar is
    ceil(T/P); at T ≤ P it is 1 and nothing prunes) AND the value
    distribution is long-tailed (the win is tail values never
    shuffling). On a small vocabulary a
    plain groupBy+HAVING is already optimal — hash-agg map-side combine
    collapses it before the exchange — so this operator is the
    scale-path variant, not a default replacement.
    """
    if len(df.columns) != 1:
        raise ValueError("heavy_hitters expects a single value column")
    (c,) = df.columns
    if threshold < 1:
        raise ValueError("threshold must be ≥ 1")
    # Exactness needs P ≥ the partition count the mapInPandas pass
    # actually runs with; df.rdd instantiates a SEPARATE plan, and AQE
    # may coalesce differently between the two. Overestimating is always
    # safe (lower bar → superset of candidates, still exact), so take
    # the max over every count a task-producing plan can realize: the
    # probe plan's own partitioning, the session's shuffle fan-out (a
    # shuffle-bearing input runs with ≤ shuffle.partitions tasks — AQE
    # only ever coalesces DOWN), and the core count.
    spark = df.sparkSession
    p = num_partitions or max(
        df.rdd.getNumPartitions(),
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
        spark.sparkContext.defaultParallelism,
    )
    local_bar = max(1, math.ceil(threshold / max(1, p)))

    import pandas as pd  # noqa: PLC0415 — worker-side import

    def find_local(batches):
        counts: dict = {}
        dtype = None
        for pdf in batches:
            dtype = pdf[c].dtype
            for v, k in pdf[c].value_counts().items():
                counts[v] = counts.get(v, 0) + int(k)
        keep = [v for v, k in counts.items() if k >= local_bar]
        if keep:
            yield pd.DataFrame({c: pd.Series(keep, dtype=dtype)})

    candidates = df.mapInPandas(find_local, schema=df.schema).distinct()
    exact = (
        df.join(F.broadcast(candidates), on=c, how="left_semi")
        .groupBy(c)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return exact.filter(F.col("cnt") >= threshold)


def count_min_estimates(
    df: DataFrame,
    depth: int = 4,
    width: int = 256,
    top_n: int = 20,
) -> DataFrame:
    """Count-min sketch with an exact twin: build a ``depth × width``
    CMS over the single value column, then report, for the ``top_n``
    most frequent values (by exact count, ties by value), the exact
    count next to the sketch's point estimate min_r cms[r][h_r(v)].

    The sketch itself is the 100 TB object: ``depth × width`` counters
    (here 4×256 = 1 KiB of longs) built with ONE combinable
    (row, bucket) aggregation over a ``depth``-way explode — mergeable
    across partitions/days by element-wise addition, the property that
    lets a fleet of ingest jobs maintain one global frequency sketch
    without re-scanning history. The estimate query is a broadcast-sized
    join of the probe values against the counter table; `min` over depth
    values is fold-order-free, so the output is deterministic on any
    engine/partitioning (no float math anywhere).

    Hash rows use the engine-portable md5 idiom (`'r|' || value`, first
    15 hex digits mod width) — NOT xxhash64, which DuckDB lacks — so the
    whole construction replays exactly in the SQL oracle.

    Output: (value, exact_cnt, cms_est), cms_est ≥ exact_cnt always
    (one-sided error: collisions only ever inflate a counter).
    """
    if len(df.columns) != 1:
        raise ValueError("count_min_estimates expects a single value column")
    if depth < 1 or width < 1:
        raise ValueError("count_min_estimates requires depth >= 1 and width >= 1")
    (c,) = df.columns

    def bucket(r: int) -> Column:
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{r}|"), F.col(c).cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % width
        ).cast("int")

    # Explode pre-built (r, bucket) structs — each row computes exactly
    # ``depth`` hashes (an explode-then-pick formulation would evaluate
    # the whole hash array once per exploded row: depth² per value).
    cms = (
        df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(r).alias("r"), bucket(r).alias("b"))
                        for r in range(depth)
                    ]
                )
            ).alias("rb")
        )
        .groupBy(F.col("rb.r").alias("r"), F.col("rb.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    exact = (
        df.groupBy(c)
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), F.col(c))
        .limit(top_n)
    )
    probes = exact.select(
        F.col(c),
        "exact_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(r).alias("r"), bucket(r).alias("b"))
                    for r in range(depth)
                ]
            )
        ).alias("rb"),
    ).select(c, "exact_cnt", F.col("rb.r").alias("r"), F.col("rb.b").alias("b"))
    return (
        probes.join(F.broadcast(cms), on=["r", "b"])
        .groupBy(c, "exact_cnt")
        .agg(F.min("cnt").alias("cms_est"))
    )
