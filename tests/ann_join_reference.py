"""Join-form law references for the integer-grid index maintenance
operators.

Production assigns and encodes through the collected-rows map folds
(operators/similarity.grid_assign_map / grid_pq_encode_map). The forms
below spell the same arithmetic the textbook way — a broadcast join
against the index table, then a ROW_NUMBER window per vector — so the
law tests can pin the folds bit-equal to an independent formulation:
the strict-improvement walk over ascending ids must equal the
(sim desc, cell asc) / (d asc, cid asc) window pick.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from incubator_flink_old_spark.operators.similarity import (
    as_double_array,
    cosine_safe,
    grid_quantize,
    grid_sqdist,
)


def _assign_grid(e: DataFrame, centers: DataFrame) -> DataFrame:
    """Nearest-center assignment of a pre-quantized grid frame ``e``
    (__c, __k array<long>) against ``centers`` (cell, cv array<long>):
    rank by the exact integer-grid cosine (zero-norm sentinel), ties to
    the smallest cell id. Returns (__c, __k, cell)."""
    return (
        e.crossJoin(F.broadcast(centers))
        .select(
            "__c",
            "__k",
            "cell",
            cosine_safe(as_double_array("__k"), as_double_array("cv")).alias(
                "__sim"
            ),
        )
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("__c").orderBy(F.col("__sim").desc(), "cell")
            ),
        )
        .filter(F.col("__rn") == 1)
        .select("__c", "__k", "cell")
    )


def grid_assign(
    corpus: DataFrame,
    centers: DataFrame,
    grid: float = 1_000_000.0,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Assign vectors to FROZEN IVF centers by broadcast join + window —
    the reference for grid_assign_map. Returns (key, cell)."""
    e = corpus.select(F.col(key).alias("__c"), grid_quantize(vec, grid).alias("__k"))
    return _assign_grid(e, centers).select(F.col("__c").alias(key), "cell")


def grid_pq_encode(
    corpus: DataFrame,
    books: DataFrame,
    grid: float = 1_000_000.0,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Encode vectors against FROZEN PQ codebooks by broadcast join +
    window — the reference for grid_pq_encode_map. Each (vector, j)
    subvector is the j-th codebook-width slice of the grid vector; the
    code is the nearest centroid by exact integer squared L2, ties to
    the smallest cid. Returns (key, j, code, qerr)."""
    e = corpus.select(F.col(key).alias("__c"), grid_quantize(vec, grid).alias("__k"))
    width = F.size("bv")
    return (
        e.crossJoin(F.broadcast(books))
        .select(
            "__c",
            "j",
            "cid",
            grid_sqdist(
                as_double_array(F.slice("__k", F.col("j") * width + 1, width)),
                as_double_array("bv"),
            ).alias("__d"),
        )
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("__c", "j").orderBy("__d", "cid")
            ),
        )
        .filter(F.col("__rn") == 1)
        .select(
            F.col("__c").alias(key),
            "j",
            F.col("cid").alias("code"),
            F.col("__d").cast("long").alias("qerr"),
        )
    )
