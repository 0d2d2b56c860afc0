"""Empty-input robustness: every custom operator must degrade to an
empty (or identity) result, never throw — at 100TB a filter that matches
nothing is routine, not exceptional."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from incubator_flink_old_spark.operators.aggregates import global_row_number, top_k
from incubator_flink_old_spark.operators.graph import (
    connected_components,
    enum_triangles,
    transitive_closure,
)
from incubator_flink_old_spark.operators.iterations import bulk_iterate
from incubator_flink_old_spark.operators.joins import co_group, salted_join
from incubator_flink_old_spark.operators.text import (
    exact_dedup,
    minhash_lsh_pairs,
    simhash16,
)
from incubator_flink_old_spark.sources import from_elements


def _empty(spark, schema):
    return from_elements(spark, [], schema)


def test_empty_graph_ops(spark):
    e = _empty(spark, "src long, dst long")
    assert connected_components(e).count() == 0
    assert enum_triangles(e).count() == 0
    assert transitive_closure(e).count() == 0


def test_empty_text_ops(spark):
    d = _empty(spark, "doc_id long, text string")
    assert exact_dedup(d).count() == 0
    assert minhash_lsh_pairs(d).count() == 0
    assert simhash16(d).count() == 0


def test_empty_rank_and_topk(spark):
    d = _empty(spark, "k long, v double")
    assert global_row_number(d, [F.col("v")]).count() == 0
    assert top_k(d, [F.col("v")], 5).count() == 0


def test_empty_joins(spark):
    left = _empty(spark, "k int, v int")
    right = from_elements(spark, [(1, "a")], "rk int, tag string")
    assert salted_join(left, right, "k", "rk").count() == 0

    def fn(key, lp, rp):
        return pd.DataFrame({"k": [key[0]], "n": [len(lp) + len(rp)]})

    out = co_group(left, right, ["k"], ["rk"], fn, "k int, n long")
    # right side still fires with an empty left group
    assert {(r["k"], r["n"]) for r in out.collect()} == {(1, 1)}


def test_bulk_iterate_on_empty(spark):
    d = _empty(spark, "v int")
    out = bulk_iterate(d, lambda df, i: df, max_iterations=3)
    assert out.count() == 0


def test_empty_wave3_curation_ops(spark):
    from incubator_flink_old_spark.operators.similarity import (
        quantize_embeddings,
        semantic_dedup,
    )
    from incubator_flink_old_spark.operators.text import (
        curate,
        decontaminate,
        dedup_clusters,
        domain_cap,
        repetition_metrics,
    )

    d = _empty(spark, "doc_id long, text string, lang string, source string")
    assert repetition_metrics(d).count() == 0
    assert decontaminate(d, d).count() == 0
    assert domain_cap(d, cap=3).count() == 0
    assert dedup_clusters(d, band_size=4).count() == 0
    assert curate(d).count() == 0
    e = _empty(spark, "vec_id long, embedding array<float>")
    assert quantize_embeddings(e).count() == 0
    assert semantic_dedup(e).count() == 0


def test_simhash_preserves_empty_docs(spark):
    """Empty/NULL-text documents must SURVIVE simhash16 with a NULL
    signature (round-2 bug: explode dropped them — silent row loss at
    ingest scale), and simhash_pairs must neither pair them with each
    other nor throw."""
    from incubator_flink_old_spark.operators.text import simhash_pairs

    df = from_elements(
        spark,
        [(1, "the quick brown fox"), (2, None), (3, ""), (4, "the quick brown fox")],
        "doc_id long, text string",
    )
    sigs = {r["doc_id"]: r["simhash"] for r in simhash16(df).collect()}
    assert set(sigs) == {1, 2, 3, 4}, "every input row must survive"
    assert sigs[2] is None and sigs[3] is None
    assert sigs[1] is not None and sigs[1] == sigs[4]
    pairs = simhash_pairs(df, max_hamming=1).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {(1, 4)}
    assert all(r["hamming"] == 0 for r in pairs)


def test_null_text_rows_do_not_poison_metrics(spark):
    """A NULL text row must yield well-defined per-doc metrics (zeros /
    keep flags), not nulls or exceptions — ingest at scale always
    contains some null payloads."""
    from incubator_flink_old_spark.operators.text import (
        quality_score,
        repetition_metrics,
        text_stats,
    )

    df = from_elements(
        spark,
        [(1, None), (2, "the quick fox")],
        "doc_id long, text string",
    )
    rep = {r["doc_id"]: r for r in repetition_metrics(df).collect()}
    assert rep[2]["n_tokens"] == 3
    assert rep[1]["n_tokens"] == 0  # documented: null text ≡ empty
    assert rep[1]["top_2gram_frac"] == 0.0
    # stats/quality must not throw on the null row
    assert text_stats(df).count() == 2
    assert quality_score(df).count() == 2


def test_empty_wave5_8_ops(spark):
    """Waves 5-8 degrade cleanly on empty / all-null input."""
    from incubator_flink_old_spark.operators.similarity import centroid_outliers
    from incubator_flink_old_spark.operators.text import (
        bpe_pair_counts,
        cluster_representatives,
        corpus_diff,
        fuzzy_pairs,
        k_anonymity,
        negative_samples,
        resolve_entities,
        source_overlap,
        template_dedup,
        tokenize_ids,
    )

    docs = _empty(spark, "doc_id long, text string, lang string, source string")
    parts = _empty(spark, "p_partkey long, p_name string")
    emb = _empty(spark, "vec_id long, label int, embedding array<double>")

    assert fuzzy_pairs(parts).count() == 0
    assert resolve_entities(parts).count() == 0
    assert bpe_pair_counts(docs).count() == 0
    assert cluster_representatives(docs).count() == 0
    assert centroid_outliers(emb).count() == 0
    assert corpus_diff(docs, docs).count() == 0
    assert source_overlap(docs).count() == 0
    assert tokenize_ids(docs).count() == 0
    assert template_dedup(docs).count() == 0
    assert k_anonymity(docs, quasi=("lang", "source")).count() == 0
    assert negative_samples(docs, F.col("doc_id") % 2 == 0).count() == 0


def test_null_name_rows_drop_from_linkage(spark):
    """NULL names cannot equi-join a block key — they drop from the pair
    list instead of pairing with each other (the null-safe contract)."""
    from incubator_flink_old_spark.operators.text import fuzzy_pairs

    df = from_elements(
        spark,
        [(1, None), (2, None), (3, "acme x"), (4, "acme y")],
        "p_partkey long, p_name string",
    )
    pairs = fuzzy_pairs(df, max_dist=4).collect()
    assert {(r["name_a"], r["name_b"]) for r in pairs} == {("acme x", "acme y")}


def test_empty_zorder_layout_ops(spark):
    """write/append/compact on an empty frame must produce an empty,
    readable layout (degenerate 0-span grid), and the probe shape must
    survive it."""
    import glob
    import tempfile

    from incubator_flink_old_spark.operators.layout import (
        append_zordered,
        compact_zordered,
        write_zordered,
    )

    e = _empty(spark, "event_id long, user_id long, t_us long, value double")
    dims = [(F.col("user_id"), 0, 0), (F.col("t_us"), 0, 0)]
    d = tempfile.mkdtemp(prefix="t2_empty_z_") + "/layout"
    write_zordered(e, d, dims, n_files=2)
    assert spark.read.parquet(d).count() == 0
    append_zordered(e, d, dims, n_files=2)
    assert spark.read.parquet(d).count() == 0
    c = tempfile.mkdtemp(prefix="t2_empty_z_") + "/compacted"
    compact_zordered(spark, d, c, dims, n_files=2)
    assert spark.read.parquet(c).count() == 0


def test_empty_global_prefix_agg(spark):
    from incubator_flink_old_spark.operators.aggregates import (
        global_prefix_agg,
    )

    e = _empty(spark, "k long, v long")
    out = global_prefix_agg(e, [F.col("k")], {"m": (F.col("v"), "max")})
    assert out.count() == 0
    assert set(out.columns) == {"k", "v", "m"}


def test_empty_round8_encoders(spark):
    """The round-8 maintenance encoders degrade to empty results on an
    empty delta — the routine no-new-data batch must not throw."""
    from incubator_flink_old_spark.operators.similarity import (
        grid_pq,
        grid_pq_encode_map,
        sq8_encode_map,
    )
    from incubator_flink_old_spark.queries._util import t
    import os

    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    emb = t(spark, sf, "embeddings")
    empty = emb.filter("vec_id < 0")
    _, books = grid_pq(emb, m=4, n_centroids=4, iters=1)
    assert grid_pq_encode_map(empty, books.collect(), m=4).count() == 0
    from incubator_flink_old_spark.queries.llm_ops18 import (
        _grid_vec,
        _sq_bounds,
    )

    bounds = _sq_bounds(emb.select("vec_id", _grid_vec().alias("k")))
    assert sq8_encode_map(empty, bounds.collect()).count() == 0


def test_empty_stream_stateful_ops(spark):
    """stateful_topk / stateful_latest over an empty replay produce an
    empty table (no keys, no state, no emissions)."""
    import shutil
    import tempfile

    from incubator_flink_old_spark.sources import from_elements
    from incubator_flink_old_spark.streaming import (
        run_stream_to_memory,
        stateful_latest,
        stateful_topk,
    )

    src = tempfile.mkdtemp(prefix="t2_empty_stream_")
    try:
        from_elements(
            spark, [], "event_type string, event_id long, value double"
        ).write.mode("overwrite").parquet(src)
        stream = (
            spark.readStream.schema(
                "event_type string, event_id long, value double"
            )
            .parquet(src)
        )
        run_stream_to_memory(
            stateful_topk(stream, k=3), "empty_topk", "update",
            state_partitions=2,
        )
        assert spark.table("empty_topk").count() == 0
    finally:
        shutil.rmtree(src, ignore_errors=True)
    src = tempfile.mkdtemp(prefix="t2_empty_cdc_")
    try:
        from_elements(
            spark,
            [],
            "user_id long, ts_us long, event_id long, "
            "event_type string, value double",
        ).write.mode("overwrite").parquet(src)
        stream = (
            spark.readStream.schema(
                "user_id long, ts_us long, event_id long, "
                "event_type string, value double"
            )
            .parquet(src)
        )
        run_stream_to_memory(
            stateful_latest(stream), "empty_cdc", "update",
            state_partitions=2,
        )
        assert spark.table("empty_cdc").count() == 0
    finally:
        shutil.rmtree(src, ignore_errors=True)
