"""Physical-plan regression guards for the optimizer traps found by
profiling (PERF.md rounds 2-3). These assert the SHAPE of the plan, not
timings — a re-introduced trap shows up as a deterministic test failure
instead of a silent 2-4× CPU regression at scale.

Trap catalogue being guarded:
- union-of-projections duplicating an expensive shared subtree
  (dedup_clusters round-3 fix: explode-based symmetrization)
- threshold filters pushed into the verify join CONDITION, re-evaluating
  the staged intersect per reference (round-3 fix: _verify_barrier)
- q_vocab_topk_coverage's token-count Exchange shared via ReuseExchange
  instead of a persisted intermediate (round-3 fix)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from incubator_flink_old_spark.sources import from_elements


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _docs(spark, n=60):
    rows = [
        (i, f"tok{i % 7} tok{(i + 1) % 7} tok{(i + 2) % 7} shared common words", "en", "s")
        for i in range(n)
    ]
    return from_elements(
        spark, rows, "doc_id long, text string, lang string, source string"
    )


def test_minhash_verify_join_condition_carries_no_intersect(spark):
    """The jaccard threshold must NOT be pushed into the verify join's
    condition: that re-evaluates the staged intersect once in the
    condition and again in the output projection (2× verify CPU)."""
    from incubator_flink_old_spark.operators.text import minhash_lsh_pairs

    plan = _executed_plan(minhash_lsh_pairs(_docs(spark), band_size=4))
    for line in plan.splitlines():
        if "Join" in line and "Build" in line:
            assert "array_intersect" not in line and "array_contains" not in line, (
                "verify intersect leaked into a join condition:\n" + line
            )


def test_containment_verify_join_condition_carries_no_intersect(spark):
    from incubator_flink_old_spark.operators.text import containment_pairs

    plan = _executed_plan(containment_pairs(_docs(spark)))
    for line in plan.splitlines():
        if "Join" in line and "Build" in line:
            assert "array_intersect" not in line and "array_contains" not in line, (
                "verify intersect leaked into a join condition:\n" + line
            )


def test_dedup_clusters_single_pair_subtree(spark):
    """Edge symmetrization must fan out per-row (one Generate), not
    union two projections of the pair pipeline — the union form plants
    the whole signature+band+verify subtree twice in the plan."""
    from incubator_flink_old_spark.operators.text import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(_docs(spark), band_size=4)
    from incubator_flink_old_spark.operators.text import dedup_clusters

    out = dedup_clusters(_docs(spark), pairs=pairs, band_size=4)
    plan = _executed_plan(out)
    # the adjacency was checkpointed and released; the returned frame's
    # plan must not re-run the band join at all
    assert plan.count("Generate explode") <= 2, plan[:2000]


def test_vocab_topk_coverage_reuses_count_exchange(spark, request):
    """The grand-total branch must read the token-count shuffle via
    ReusedExchange (one tokenize+shuffle), not recompute it — and the
    operator must hold NO persisted cache after planning."""
    from incubator_flink_old_spark.queries import QUERIES, load_all_queries

    load_all_queries()
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    if not os.path.isdir(sf_dir):
        pytest.skip("no testdata")
    jsc = spark.sparkContext._jsc.sc()
    cached_before = jsc.getPersistentRDDs().size()
    df = QUERIES["q_vocab_topk_coverage"](spark, sf_dir)
    df.collect()
    plan = _executed_plan(df)
    assert "ReusedExchange" in plan, plan[:2000]
    # the operator must not add a persisted intermediate (round-2 leak)
    assert jsc.getPersistentRDDs().size() <= cached_before


def test_spread_is_noop_on_parallel_input(spark):
    """The spread must not add a shuffle when the input already has the
    cluster's parallelism (the 100 TB no-op contract)."""
    from incubator_flink_old_spark.operators.text import _spread_narrow

    width = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 1000, 1, width)
    assert "Repartition" not in _spread_narrow(wide)._jdf.queryExecution().optimizedPlan().toString()
    if width >= 4:
        # the spread only fires on inputs >=4x narrower than the cluster
        narrow = spark.range(0, 1000, 1, 1)
        assert "Repartition" in _spread_narrow(narrow)._jdf.queryExecution().optimizedPlan().toString()


def test_centroid_outliers_broadcasts_centroids(spark, sf_dir):
    """The |groups|-row centroid table must broadcast back onto the
    corpus — a shuffled scoring join would move the whole corpus for a
    handful of centroid rows."""
    from incubator_flink_old_spark.operators.similarity import centroid_outliers
    from incubator_flink_old_spark.sources import load_table

    plan = _executed_plan(centroid_outliers(load_table(spark, sf_dir, "embeddings")))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_fuzzy_pairs_blocking_is_equi_join(spark, sf_dir):
    """Candidate blocking must be an EQUI-join on (first token, bucket) —
    a cartesian/NLJ here is O(names²) and dies at scale."""
    from incubator_flink_old_spark.operators.text import fuzzy_pairs
    from incubator_flink_old_spark.sources import load_table

    plan = _executed_plan(fuzzy_pairs(load_table(spark, sf_dir, "part")))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_negative_samples_is_equi_join(spark, sf_dir):
    """Negative sampling must equi-join the hash-ring bucket — a
    NLJ/cartesian here is the O(queries × corpus) shape the op exists
    to avoid."""
    from incubator_flink_old_spark.operators.text import negative_samples
    from incubator_flink_old_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = _executed_plan(negative_samples(docs, F.col("doc_id") % 17 == 0))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tokenize_ids_vocab_is_bounded_topk(spark, sf_dir):
    """The vocabulary build must be a bounded TakeOrderedAndProject —
    a global sort of the full token vocabulary would shuffle everything
    to produce 1000 rows."""
    from incubator_flink_old_spark.operators.text import tokenize_ids
    from incubator_flink_old_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = _executed_plan(tokenize_ids(docs, vocab_size=100, max_len=16))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_bloom_decontaminate_filters_before_distinct(spark, sf_dir):
    """The Bloom membership test must sit BELOW the doc-gram distinct's
    exchange: filtering after the distinct would shuffle the full corpus
    gram stream — exactly the cost the prefilter exists to avoid."""
    from incubator_flink_old_spark.operators.sketches import decontaminate_bloom
    from incubator_flink_old_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = _executed_plan(
        decontaminate_bloom(docs, docs.filter(F.col("doc_id") % 97 == 0), n=8)
    )
    lines = plan.splitlines()
    # the bloom bit test (shiftright over element_at of the word array)
    bloom = [i for i, l in enumerate(lines) if "shiftright" in l]
    semi = [i for i, l in enumerate(lines) if "LeftSemi" in l]
    # corpus-side gram exchanges (the doc-gram distinct)
    exch = [
        i
        for i, l in enumerate(lines)
        if "Exchange hashpartitioning" in l and "g#" in l and "doc_id" in l
    ]
    assert bloom, "bloom bit-test not found in the plan"
    # plan text prints top-down (deeper = runs first): the bloom prune
    # must sit BELOW the exact LeftSemi verify and below every corpus
    # gram exchange — without the Generate barrier Catalyst pushes the
    # exact join under the bloom filter, reducing the sketch to a no-op
    assert semi and min(bloom) > max(semi), (
        "exact LeftSemi verify runs below the bloom prune"
    )
    assert exch and max(exch) < min(bloom), (
        "a corpus gram exchange runs below the bloom filter (full gram shuffle)"
    )


def test_heavy_hitters_exact_pass_broadcasts_candidates(spark, sf_dir):
    """The exact recount must semi-join the candidate set via a broadcast
    — a shuffle join here would re-shuffle the full gram stream."""
    from incubator_flink_old_spark.operators.sketches import heavy_hitters
    from incubator_flink_old_spark.operators.text import exploded_ngrams, tokens
    from incubator_flink_old_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    grams = exploded_ngrams(
        docs.select(tokens("text").alias("__tka")), 2, carry=(), hashed=False,
        out="gram",
    )
    plan = _executed_plan(heavy_hitters(grams, 30))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_pq_scoring_broadcasts_distance_tables(spark, sf_dir):
    """ADC scoring must broadcast the per-query distance tables over the
    code stream (the corpus side never shuffles for scoring)."""
    from incubator_flink_old_spark.operators.similarity import pq_topk
    from incubator_flink_old_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(80)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    plan = _executed_plan(pq_topk(q, emb, k=3, m=8, n_centroids=4, kmeans_iters=1))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_layout_probe_candidate_join_is_zero_exchange(spark, sf_dir):
    """The q_dedup_minhash_layout contract (VERDICT r04 item 7): over the
    band table materialized bucketed by (band, bucket), the candidate
    self-join is a sort-merge join fed by the bucketed scan with NO
    Exchange — the only shuffle in the whole candidate subtree is the
    pair distinct, which is O(candidates), not O(corpus). A broadcast
    join would also show no exchange but proves nothing at scale, so the
    join operator itself is asserted too."""
    import tempfile

    from incubator_flink_old_spark.operators.text import (
        band_candidates,
        minhash_bands,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bands = minhash_bands(docs, num_hashes=8, band_size=4)
    spark.sql("DROP TABLE IF EXISTS t2_layout_bands_test")
    (
        bands.repartition(4, "band", "bucket")
        .write.bucketBy(4, "band", "bucket")
        .sortBy("band", "bucket")
        .option("path", tempfile.mkdtemp(prefix="t2_layout_test_") + "/bands")
        .mode("overwrite")
        .saveAsTable("t2_layout_bands_test")
    )
    cands = band_candidates(
        spark.table("t2_layout_bands_test"), 0.7, join_hint="merge"
    )
    cands.write.format("noop").mode("overwrite").save()
    plan = _executed_plan(cands)
    assert "SortMergeJoin" in plan
    exchanges = [l for l in plan.splitlines() if "Exchange" in l and "ReusedExchange" not in l]
    for line in exchanges:
        assert "band" not in line and "bucket" not in line, (
            "candidate join shuffled on the bucket key — the bucketed "
            "layout was not used:\n" + line
        )
    # exactly the one pair-distinct shuffle survives
    assert len(exchanges) <= 1, "\n".join(exchanges)


def test_ivf_layout_probe_scan_is_partition_pruned(spark, sf_dir):
    """The q_ann_recall_ivf_layout contract: over the corpus written
    partitionBy(cell), the probe join must reach the scan as a DYNAMIC
    PARTITION PRUNING filter — the layout read is probed-cells-only,
    not a corpus scan."""
    import tempfile

    from incubator_flink_old_spark.operators.similarity import (
        as_double_array,
        grid_ivf,
        grid_probes,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cells, centers = grid_ivf(emb, n_cells=8, iters=2)
    path = tempfile.mkdtemp(prefix="t2_ivf_plan_") + "/by_cell"
    emb.join(cells, on="vec_id").write.partitionBy("cell").mode(
        "overwrite"
    ).parquet(path)
    stored = spark.read.parquet(path)
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    cand = stored.join(grid_probes(queries, centers), on="cell").select(
        "q_id", "vec_id", as_double_array("embedding").alias("v")
    )
    cand.write.format("noop").mode("overwrite").save()
    plan = _executed_plan(cand)
    assert "dynamicpruning" in plan.lower(), (
        "by-cell layout scan is not partition-pruned:\n"
        + "\n".join(l for l in plan.splitlines() if "FileScan" in l)
    )


def test_bucketed_join_layout_is_exchange_free(spark, sf_dir):
    """q_bucketed_join_layout's probe join must zip co-located buckets:
    no Exchange on either join input (the layout's whole point), both
    scans bucketed, and the only exchange in the plan the digest-sized
    final aggregation."""
    from incubator_flink_old_spark.queries.llm_ops13 import (
        _bucketed_join_probe,
    )

    df = _bucketed_join_probe(spark, sf_dir)
    plan = _executed_plan(df)
    assert "Exchange hashpartitioning(l_orderkey" not in plan, plan[:2000]
    assert "Exchange hashpartitioning(o_orderkey" not in plan, plan[:2000]
    assert plan.count("Bucketed: true") == 2, plan[:2000]
    assert "SortMergeJoin" in plan, plan[:2000]


def test_stateful_latest_is_a_builtin_aggregation(spark, tmp_path):
    """Latest-wins is max(struct) in the JVM state store: no pandas-state
    node, so no Python worker runs."""
    from incubator_flink_old_spark.plans import explain_str
    from incubator_flink_old_spark.streaming import stateful_latest

    stream = spark.readStream.schema(
        "user_id long, ts_us long, event_id long, event_type string, value double"
    ).parquet(str(tmp_path))
    plan = explain_str(stateful_latest(stream), "extended")
    assert "PandasWithState" not in plan, plan
    assert "Aggregate" in plan, plan


def _bloom(spark):
    from incubator_flink_old_spark.operators.sketches import bloom_build

    vals = spark.range(50).select((F.col("id") * 7919).alias("g"))
    return bloom_build(vals, "g", num_bits=1 << 10, num_hashes=3)


@pytest.mark.parametrize(
    "build",
    [lambda spark: from_elements(spark, [], "id long, lbl string"), _bloom],
    ids=["local_rows_empty", "bloom_build"],
)
def test_driver_built_frames_scan_no_python_rdd(spark, build):
    """A frame the driver builds from collected values is a JVM literal:
    createDataFrame(list) would plan a Scan ExistingRDD over a Python
    RDD, and each of its tasks would fork a Python worker. Its range is
    one split, so it schedules one task, not defaultParallelism mostly
    empty ones."""
    plan = _executed_plan(build(spark))
    assert "ExistingRDD" not in plan, plan
    assert "splits=1)" in plan, plan


def _mixture(spark):
    from incubator_flink_old_spark.operators.text import mixture_schedule

    out = mixture_schedule(_docs(spark, 8), {"s": 1.0})
    return {r.doc_id for r in out.collect()} == set(range(8))


def _scc(spark):
    from incubator_flink_old_spark.operators.graph import scc_forward_backward

    edges = from_elements(spark, [(1, 2), (2, 1), (2, 3)], "src long, dst long")
    got = {r.id: r.scc_id for r in scc_forward_backward(edges).collect()}
    return got == {1: 1, 2: 1, 3: 3}


@pytest.mark.parametrize(
    "run", [_mixture, _scc], ids=["mixture_schedule", "scc_forward_backward"]
)
def test_operators_build_no_python_rdd(spark, monkeypatch, run):
    """mixture_schedule's weights and scc_forward_backward's empty seed
    are JVM literals too. Both plans read local checkpoints, which also
    print as Scan ExistingRDD, so these are pinned at the constructor:
    the operator runs with createDataFrame unavailable."""
    from pyspark.sql import SparkSession

    def no_python_rdd(*args, **kwargs):
        raise AssertionError("createDataFrame called")

    monkeypatch.setattr(SparkSession, "createDataFrame", no_python_rdd)
    assert run(spark)
