"""Sketch-accelerated exact operators (wave 9): Bloom-prefiltered
decontamination, threshold heavy hitters, product-quantization ANN.

The law under test everywhere: the sketch only prunes, the exact pass
decides — so sketched and naive formulations must be row-identical under
ANY partitioning.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from incubator_flink_old_spark.operators.sketches import (
    bloom_build,
    bloom_might_contain,
    decontaminate_bloom,
    heavy_hitters,
)
from incubator_flink_old_spark.operators.text import decontaminate, exploded_ngrams, tokens
from incubator_flink_old_spark.sources import from_elements, load_table


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# --- Bloom filter --------------------------------------------------------


def test_bloom_no_false_negatives(spark):
    vals = from_elements(
        spark, [(v,) for v in range(-500, 500, 7)], "g long"
    )
    bf = bloom_build(vals, "g", num_bits=1 << 12, num_hashes=5)
    hits = vals.join(F.broadcast(bf)).filter(
        bloom_might_contain(F.col("g"), F.col("__bf"), 1 << 12, 5)
    )
    assert hits.count() == vals.count()  # every inserted value tests positive


def test_bloom_prunes_absent_values(spark):
    present = from_elements(spark, [(v,) for v in range(100)], "g long")
    absent = from_elements(
        spark, [(v,) for v in range(10_000, 20_000)], "g long"
    )
    bf = bloom_build(present, "g", num_bits=1 << 14, num_hashes=5)
    fp = absent.join(F.broadcast(bf)).filter(
        bloom_might_contain(F.col("g"), F.col("__bf"), 1 << 14, 5)
    )
    # 100 values in 2^14 bits → theoretical FP rate ≈ (1-e^{-kn/m})^k ≈ 1e-8;
    # allow a generous bound — the point is pruning, not the exact rate.
    assert fp.count() < 100


def test_bloom_decontaminate_equals_exact(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") % 97 == 0)
    exact = decontaminate(docs, benchmark, n=8)
    sketched = decontaminate_bloom(docs, benchmark, n=8)
    assert _rows(sketched) == _rows(exact)


def test_bloom_decontaminate_empty_benchmark(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = decontaminate_bloom(docs, docs.filter(F.lit(False)), n=8)
    got = out.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("n_hits")).alias("h")
    ).collect()[0]
    assert got["n"] == docs.count() and got["h"] == 0


# --- Heavy hitters -------------------------------------------------------


def _bigrams(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return exploded_ngrams(
        docs.select(tokens("text").alias("__tka")), 2, carry=(), hashed=False,
        out="gram",
    )


def test_heavy_hitters_equals_plain_groupby(spark, sf_dir):
    grams = _bigrams(spark, sf_dir)
    plain = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 30)
    )
    assert _rows(heavy_hitters(grams, 30)) == _rows(plain)


def test_heavy_hitters_partition_invariant(spark, sf_dir):
    grams = _bigrams(spark, sf_dir)
    a = heavy_hitters(grams.repartition(3), 30)
    b = heavy_hitters(grams.repartition(17), 30)
    assert _rows(a) == _rows(b)


def test_heavy_hitters_threshold_one_is_wordcount(spark):
    vals = from_elements(
        spark, [("a",), ("b",), ("a",), ("c",), ("a",), ("b",)], "w string"
    )
    got = {r["w"]: r["cnt"] for r in heavy_hitters(vals, 1).collect()}
    assert got == {"a": 3, "b": 2, "c": 1}


def test_heavy_hitters_rejects_multicolumn(spark):
    import pytest

    df = from_elements(spark, [(1, 2)], "a long, b long")
    with pytest.raises(ValueError):
        heavy_hitters(df, 2)


def test_heavy_hitters_empty_input(spark):
    vals = from_elements(spark, [("x",)], "w string").filter(F.lit(False))
    assert heavy_hitters(vals, 2).count() == 0


# --- Product quantization ------------------------------------------------


def test_pq_self_retrieval_and_determinism(spark, sf_dir):
    from incubator_flink_old_spark.operators.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    out = pq_topk(queries, emb, k=5, m=8, n_centroids=16, kmeans_iters=2)
    rows = _rows(out.select("q_id", "vec_id"))
    # self is retrieved for every query
    assert all((q, q) in set(rows) for q in range(5))
    # deterministic under input repartitioning
    out2 = pq_topk(
        queries.repartition(7), emb.repartition(5), k=5, m=8,
        n_centroids=16, kmeans_iters=2,
    )
    assert rows == _rows(out2.select("q_id", "vec_id"))


def test_pq_codes_shape(spark, sf_dir):
    from incubator_flink_old_spark.operators.similarity import grid_pq

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    codes, books = grid_pq(emb, m=8, n_centroids=4, iters=1)
    assert books.count() == 8 * 4  # m × k centroids
    per_vec = codes.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("j").alias("nj"),
        F.min("code").alias("lo"),
        F.max("code").alias("hi"),
    )
    assert per_vec.count() == emb.count()
    bad = per_vec.filter(
        (F.col("n") != 8) | (F.col("nj") != 8) | (F.col("lo") < 1) | (F.col("hi") > 4)
    )
    assert bad.count() == 0


def test_pq_sparse_codebook_scores_non_null(spark, sf_dir):
    """Corpus smaller than n_centroids → each subspace codebook has fewer
    than n_centroids entries. The ADC distance table must stay aligned
    (dense m·K grid), so every score is non-null and self-retrieval
    ranks exactly (the r03 advisor finding: sorted-position flattening
    returned all-NULL scores here)."""
    from incubator_flink_old_spark.operators.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 3)
    q = emb.select(F.col("vec_id").alias("q_id"), "embedding")
    out = pq_topk(q, emb, k=3, m=4, n_centroids=16, kmeans_iters=2).collect()
    assert len(out) == 9  # 3 queries × 3 corpus vectors
    assert all(r["score"] is not None for r in out)
    # with codes == their own quantization, self must be top-1 by ADC
    best = {}
    for r in sorted(out, key=lambda r: (r["q_id"], -r["score"], r["vec_id"])):
        best.setdefault(r["q_id"], r["vec_id"])
    assert best == {0: 0, 1: 1, 2: 2}


def test_ivf_pq_all_cells_equals_plain_pq(spark, sf_dir):
    """With n_probe = n_cells the IVF prune admits everything, so the
    composed ranking must equal plain PQ (same codebooks, same ADC)."""
    from incubator_flink_old_spark.operators.similarity import ivf_pq_topk, pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    full = ivf_pq_topk(
        q, emb, k=5, n_cells=4, n_probe=4, m=8, n_centroids=8, kmeans_iters=2
    )
    plain = pq_topk(q, emb, k=5, m=8, n_centroids=8, kmeans_iters=2)
    assert _rows(full.select("q_id", "vec_id")) == _rows(
        plain.select("q_id", "vec_id")
    )


def test_ivf_pq_results_come_from_probed_cells(spark, sf_dir):
    """The probe prune is real: every returned vector lies in one of the
    query's n_probe cells (the equi-join admits nothing else), and self
    is always retrieved (a query probes its own cell by construction)."""
    from incubator_flink_old_spark.operators.similarity import (
        grid_ivf,
        grid_probes,
        ivf_pq_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    out = ivf_pq_topk(
        q, emb, k=5, n_cells=8, n_probe=2, m=8, n_centroids=8, kmeans_iters=2
    )
    got = _rows(out.select("q_id", "vec_id"))
    assert all((i, i) in set(got) for i in range(5))
    # the same trainer run standalone gives the probed pool
    cells, centers = grid_ivf(emb, n_cells=8, iters=2)
    probes = grid_probes(q, centers, n_probe=2)
    pool = set(_rows(probes.join(cells, on="cell").select("q_id", "vec_id")))
    assert set(got) <= pool
    # deterministic under repartitioning
    out2 = ivf_pq_topk(
        q.repartition(3), emb.repartition(7), k=5, n_cells=8, n_probe=2, m=8,
        n_centroids=8, kmeans_iters=2,
    )
    assert got == _rows(out2.select("q_id", "vec_id"))


def test_new_ops_empty_and_tiny_inputs(spark):
    """Waves 13-15 degrade cleanly: empty edge sets, empty linkage
    inputs, and a corpus smaller than the codebook size."""
    from incubator_flink_old_spark.operators.graph import k_core, label_propagation
    from incubator_flink_old_spark.operators.similarity import pq_topk
    from incubator_flink_old_spark.operators.text import sorted_neighborhood_pairs

    empty_edges = from_elements(spark, [(1, 2)], "src long, dst long").filter(
        F.lit(False)
    )
    assert k_core(empty_edges, k=2, rounds=2).count() == 0
    assert label_propagation(empty_edges, rounds=2).count() == 0

    empty_names = from_elements(spark, [(1, "a")], "id long, nm string").filter(
        F.lit(False)
    )
    assert (
        sorted_neighborhood_pairs(empty_names, key="id", name="nm").count() == 0
    )

    tiny = from_elements(
        spark,
        [(i, [float(i + d) for d in range(8)]) for i in range(3)],
        "vec_id long, embedding array<double>",
    )
    q = tiny.select(F.col("vec_id").alias("q_id"), "embedding")
    out = pq_topk(q, tiny, k=5, m=4, n_centroids=16, kmeans_iters=1)
    # corpus (3) < n_centroids (16): codebooks shrink to what exists,
    # every query still retrieves all 3 corpus vectors
    assert out.groupBy("q_id").count().agg(F.min("count")).first()[0] == 3
