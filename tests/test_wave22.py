"""Wave-22 law tests: integer-grid IVF invariants, ANN recall bounds,
and layout-probe result equivalence. The cross-engine value checks live
in test_queries_oracle; these pin the algebraic laws that hold at ANY
scale factor."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_trunc_division_matches_duckdb(spark):
    """The grid-IVF centroid recipe hinges on Spark `div` ≡ DuckDB `//`
    on negatives (both truncate toward zero, NOT floor)."""
    rows = [(-7, 2), (7, 2), (-7, -2), (7, -2), (-1, 3), (1, 3)]
    got = {
        (r["a"], r["b"]): r["q"]
        for r in spark.createDataFrame(rows, "a long, b long")
        .select("a", "b", F.expr("a div b").alias("q"))
        .collect()
    }
    want = {
        (a, b): duckdb.sql(
            f"SELECT CAST({a} AS BIGINT) // CAST({b} AS BIGINT)"
        ).fetchone()[0]
        for a, b in rows
    }
    assert got == want


def test_grid_ivf_partitions_the_corpus(spark, sf_dir):
    """Every vector lands in exactly one cell; cell ids are within
    1..n_cells; no vector is lost or duplicated."""
    from incubator_flink_old_spark.operators.similarity import grid_ivf

    emb = _emb(spark, sf_dir)
    cells, centers = grid_ivf(emb, n_cells=8, iters=2)
    n = emb.count()
    assert cells.count() == n
    assert cells.select("vec_id").distinct().count() == n
    ids = [r["cell"] for r in cells.select("cell").distinct().collect()]
    assert all(1 <= c <= 8 for c in ids)
    assert centers.count() <= 8


def test_grid_ivf_probe_all_cells_is_exact(spark, sf_dir):
    """Law: probing EVERY cell makes IVF search exhaustive, so its top-k
    must equal brute force exactly (the n_probe → recall=1 limit every
    ANN tuning curve ends at)."""
    from incubator_flink_old_spark.operators.similarity import (
        as_double_array,
        brute_force_topk,
        cosine,
        grid_ivf,
    )

    emb = _emb(spark, sf_dir)
    cells, _ = grid_ivf(emb, n_cells=8, iters=2)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    qv = queries.select("q_id", as_double_array("embedding").alias("qv"))
    cv = emb.select("vec_id", as_double_array("embedding").alias("v"))
    # all cells probed == candidate set is the whole corpus
    cand = qv.crossJoin(cells.select("vec_id")).select("q_id", "vec_id")
    ivf_top = (
        cand.join(qv, on="q_id")
        .join(cv, on="vec_id")
        .select("q_id", "vec_id", cosine(F.col("qv"), F.col("v")).alias("cos"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(F.col("cos").desc(), "vec_id")
            ),
        )
        .filter(F.col("rn") <= 5)
        .select("q_id", "vec_id")
    )
    brute = brute_force_topk(queries, emb, k=5).select("q_id", "vec_id")
    assert ivf_top.exceptAll(brute).count() == 0
    assert brute.exceptAll(ivf_top).count() == 0


def test_recall_queries_bounds(spark, sf_dir):
    """hits ∈ [1, 5] for both recall queries: the query vector itself is
    rank-1 in its own bucket/cell and in brute force, so recall can never
    be 0; and hits can never exceed k."""
    from incubator_flink_old_spark.queries import QUERIES, load_all_queries

    load_all_queries()
    for name in ("q_ann_recall_lsh", "q_ann_recall_ivf"):
        rows = QUERIES[name](spark, sf_dir).collect()
        assert len(rows) == 20
        for r in rows:
            assert 1 <= r["hits"] <= 5, (name, r)
            assert r["recall"] == r["hits"] / 5.0


def test_purity_partitions_and_bounds(spark, sf_dir):
    from incubator_flink_old_spark.queries import QUERIES, load_all_queries

    load_all_queries()
    rows = QUERIES["q_ivf_cell_purity"](spark, sf_dir).collect()
    emb_n = _emb(spark, sf_dir).count()
    assert sum(r["n_vecs"] for r in rows) == emb_n
    for r in rows:
        assert 0.0 < r["purity"] <= 1.0


def test_layout_probe_equals_plain_minhash(spark, sf_dir):
    """The layout is a physical change only: the bucketed-probe pair list
    must equal q_dedup_minhash's row-for-row."""
    from incubator_flink_old_spark.queries import QUERIES, load_all_queries

    load_all_queries()
    a = QUERIES["q_dedup_minhash_layout"](spark, sf_dir)
    b = QUERIES["q_dedup_minhash"](spark, sf_dir)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_ivf_layout_recall_equals_plain(spark, sf_dir):
    """The by-cell layout is a physical change only: its recall row must
    equal q_ann_recall_ivf's row-for-row."""
    from incubator_flink_old_spark.queries import QUERIES, load_all_queries

    load_all_queries()
    a = QUERIES["q_ann_recall_ivf_layout"](spark, sf_dir)
    b = QUERIES["q_ann_recall_ivf"](spark, sf_dir)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_grid_pq_bounds_and_codes(spark, sf_dir):
    """Structural PQ laws: every vector gets exactly m codes; codes lie
    in [1, n_centroids]; recall row has hits ∈ [0, 5] (self-retrieval is
    NOT guaranteed under quantization error, unlike cell probing)."""
    from incubator_flink_old_spark.operators.similarity import grid_pq
    from incubator_flink_old_spark.queries import QUERIES, load_all_queries

    emb = _emb(spark, sf_dir)
    codes, books = grid_pq(emb, m=4, n_centroids=8, iters=1)
    n = emb.count()
    assert codes.count() == 4 * n
    bad = codes.filter((F.col("code") < 1) | (F.col("code") > 8)).count()
    assert bad == 0
    load_all_queries()
    rows = QUERIES["q_ann_recall_pq"](spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        assert 0 <= r["hits"] <= 5
        assert r["recall"] == r["hits"] / 5.0


def test_grid_pq_saturated_codebook_is_exact(spark, sf_dir):
    """Law: with n_centroids ≥ corpus size every vector becomes its own
    centroid, ADC distances equal exact distances, and PQ top-k must
    equal the exact ranking — the compression → exactness limit."""
    from incubator_flink_old_spark.operators.similarity import (
        as_double_array,
        grid_pq,
        grid_sqdist,
    )
    from pyspark.sql import Window

    emb = _emb(spark, sf_dir).filter(F.col("vec_id") < 40)
    n = emb.count()
    codes, books = grid_pq(emb, m=4, n_centroids=n, iters=1)
    eg = emb.select(
        "vec_id",
        F.transform(
            as_double_array("embedding"),
            lambda x: F.floor(x * F.lit(1_000_000.0)).cast("long"),
        ).alias("k"),
    )
    qg = eg.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("k").alias("qk")
    )
    qsubs = qg.select(
        "q_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.slice("qk", j * 16 + 1, 16).alias("sv"),
                    )
                    for j in range(4)
                ]
            )
        ).alias("js"),
    ).select("q_id", F.col("js.j").alias("j"), F.col("js.sv").alias("sv"))
    dtab = qsubs.join(F.broadcast(books), on="j").select(
        "q_id", "j", "cid",
        grid_sqdist(as_double_array("sv"), as_double_array("bv")).alias("d"),
    )
    adist = (
        codes.join(
            F.broadcast(dtab),
            on=[codes["j"] == dtab["j"], codes["code"] == dtab["cid"]],
        )
        .groupBy("q_id", "vec_id")
        .agg(F.sum("d").alias("ad"))
    )
    exact = (
        F.broadcast(qg)
        .crossJoin(eg)
        .select(
            "q_id", "vec_id",
            grid_sqdist(as_double_array("qk"), as_double_array("k")).alias("d"),
        )
    )
    joined = adist.join(exact, on=["q_id", "vec_id"])
    assert joined.filter(F.col("ad") != F.col("d")).count() == 0
