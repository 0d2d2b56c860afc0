"""Round-9 guard laws (ADVICE r08): the frozen-index pure maps and the
latest-wins state worker must fail LOUDLY on malformed index tables /
payload sets instead of silently emitting code=-1 / NULL codes / wrong
schemas — the fail-loudly discipline the empty-list checks established,
extended to partial and mistyped inputs."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.skipif(not os.path.isdir(SF), reason="no testdata")


def test_pq_encode_map_rejects_missing_subspace(spark):
    """A codebook list covering only some subspaces would make the
    missing subspace's literal array empty and its argmin fold emit
    code=-1/qerr=inf silently — must raise instead (ADVICE r08)."""
    from incubator_flink_old_spark.operators.similarity import (
        grid_pq,
        grid_pq_encode_map,
    )
    from incubator_flink_old_spark.queries._util import t
    from incubator_flink_old_spark.queries.llm_ops11 import _PQ_M

    emb = t(spark, SF, "embeddings")
    _, books = grid_pq(emb, m=_PQ_M, n_centroids=4, iters=1)
    partial = [r for r in books.collect() if r.j != 1]
    with pytest.raises(ValueError, match=r"no codebook rows for subspace"):
        grid_pq_encode_map(emb, partial, m=_PQ_M)


def test_sq8_encode_map_rejects_gapped_bounds(spark):
    """A gapped/duplicated bounds table would element_at NULL lo/hi for
    the missing dims and emit silent NULL codes — must raise."""
    from incubator_flink_old_spark.operators.similarity import sq8_encode_map
    from incubator_flink_old_spark.queries._util import t
    from incubator_flink_old_spark.queries.llm_ops18 import (
        _grid_vec,
        _sq_bounds,
    )

    emb = t(spark, SF, "embeddings")
    bounds = _sq_bounds(emb.select("vec_id", _grid_vec().alias("k")))
    gapped = [r for r in bounds.collect() if r.p != 7]
    with pytest.raises(ValueError, match=r"must be exactly 1\.\."):
        sq8_encode_map(emb, gapped)


def test_sq8_encode_map_rejects_short_bounds_at_runtime(spark):
    """A bounds table that is contiguous 1..n but SHORTER than the
    vectors passes the plan-time check; the in-plan raise_error guard
    must fail the job instead of emitting NULL codes past dim n."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from incubator_flink_old_spark.operators.similarity import sq8_encode_map
    from incubator_flink_old_spark.queries._util import t
    from incubator_flink_old_spark.queries.llm_ops18 import (
        _grid_vec,
        _sq_bounds,
    )

    emb = t(spark, SF, "embeddings")
    bounds = _sq_bounds(emb.select("vec_id", _grid_vec().alias("k")))
    short = [r for r in bounds.collect() if r.p <= 16]  # contiguous 1..16
    with pytest.raises(SparkRuntimeException, match="vector dim exceeds"):
        sq8_encode_map(emb, short).collect()


def test_stateful_latest_rejects_unknown_payload(spark):
    from incubator_flink_old_spark.streaming import stateful_latest

    df = spark.createDataFrame(
        [(1, 10, 100, "a", 1.0)],
        "user_id long, ts_us long, event_id long, event_type string, "
        "value double",
    )
    with pytest.raises(ValueError, match="not in the stream schema"):
        stateful_latest(df, payload_cols=("event_type", "nope"))


def test_stateful_latest_derives_payload_types_from_schema(spark):
    """stateful_latest with a NON-default payload set (a long counter
    and a second string) must carry each column's input type verbatim —
    the r08 name-based special case typed anything not named
    'event_type' as double and broke exactly this call shape."""
    from incubator_flink_old_spark.streaming import (
        run_stream_to_memory,
        stateful_latest,
    )

    src = tempfile.mkdtemp(prefix="t2_latest_schema_")
    try:
        spark.createDataFrame(
            [
                (1, 10, 100, "x", 7),
                (1, 20, 101, "y", 8),
                (2, 5, 102, "z", 9),
            ],
            "user_id long, ts_us long, event_id long, tag string, cnt long",
        ).repartition(2).write.mode("overwrite").parquet(src)
        stream = (
            spark.readStream.schema(
                "user_id long, ts_us long, event_id long, "
                "tag string, cnt long"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        out = stateful_latest(stream, payload_cols=("tag", "cnt"))
        assert dict(out.dtypes)["tag"] == "string"
        assert dict(out.dtypes)["cnt"] == "bigint"
        run_stream_to_memory(out, "latest_schema_law", "update",
                             state_partitions=2)
        rows = {
            r.user_id: (r.ts_us, r.event_id, r.tag, r.cnt)
            for r in spark.table("latest_schema_law")
            .withColumn(
                "mx", F.max("seen").over(Window.partitionBy("user_id"))
            )
            .filter(F.col("seen") == F.col("mx"))
            .collect()
        }
    finally:
        shutil.rmtree(src, ignore_errors=True)
    assert rows == {1: (20, 101, "y", 8), 2: (5, 102, "z", 9)}


def test_regression_scan_skips_malformed_entry(tmp_path):
    """A sidecar entry with no usable run values must be skipped with a
    warning, not abort the scan that gates round close (ADVICE r08);
    and the OLD argument accepts a comma-separated list so the
    denominator is min-of-all-old-sidecars (symmetric with NEW)."""
    old1 = tmp_path / "old1.json"
    old1.write_text(json.dumps({"engine_metrics": {
        "q_a": {"runs_engine_ms": [2000, 1500]},
        "q_bad": {},  # malformed: no runs at all
    }}))
    old2 = tmp_path / "old2.json"
    old2.write_text(json.dumps({"engine_metrics": {
        "q_a": {"runs_engine_ms": [1000]},
    }}))
    new = tmp_path / "new.json"
    new.write_text(json.dumps({"engine_metrics": {
        "q_a": {"runs_engine_ms": [1100]},
        "q_bad": {"runs_engine_ms": [500]},
    }}))
    r = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "regression_scan.py"),
         f"{old1},{old2}", str(new)],
        capture_output=True, text=True,
    )
    # q_a: old min = 1.0s (from old2), new 1.1s -> no hit; q_bad skipped
    # on the old side (warning), so not shared. rc 0, one WARN line.
    assert r.returncode == 0, r.stdout + r.stderr
    assert "WARN" in r.stderr and "q_bad" in r.stderr
    assert "1 shared queries" in r.stdout
    assert "zero >1.5x/+1s hits" in r.stdout


# --------------------------------------------------------------------------
# Round-9 row laws: drift-gated retrain + prefix-tier streaming absorption
# --------------------------------------------------------------------------


def test_drift_gate_does_not_trip_in_distribution(spark):
    """The retrain gate's other half: with shift=0 the 'delta' is drawn
    from the training distribution, the PQ qerr ratio sits at ~1x and no
    above-noise-floor cell concentrates delta, so the audit must NOT
    trip and the row must refuse to retrain (RuntimeError) — the gate
    is a detector, not a rubber stamp."""
    from incubator_flink_old_spark.queries.llm_ops28 import _drift_retrain_df

    with pytest.raises(RuntimeError, match="did not trip"):
        _drift_retrain_df(spark, SF, shift=0.0)


def test_drift_retrain_recall_recovery(spark):
    """The recovery law the registered row exists for: on queries drawn
    from the DRIFTED region, retraining the coarse tier on the union
    (PQ books untouched) must recover ANN recall vs the frozen index —
    measured here via the family's shared IVF probe chain with exact
    integer ranking (deterministic at a fixed fixture: frozen 0.990 →
    retrained 1.000 at sf0.001, 0.960 → 1.000 at sf0.01; the sf0.1
    probe measured 0.77 → 1.00, PERF.md round 8)."""
    from pyspark.sql import Window

    from incubator_flink_old_spark.operators.similarity import (
        as_double_array,
        grid_assign_map,
        grid_ivf,
        grid_probes,
        grid_sqdist,
    )
    from incubator_flink_old_spark.queries._util import t
    from incubator_flink_old_spark.queries.llm_ops11 import (
        _ITERS,
        _N_CELLS,
        _N_PROBE,
    )
    from incubator_flink_old_spark.queries.llm_ops18 import _grid_vec
    from incubator_flink_old_spark.queries.llm_ops28 import (
        _D_MOD,
        _D_REM,
        _DRIFT_SHIFT,
    )

    k = 5

    def recall(union_eg, cells, centers, queries):
        probes = grid_probes(queries, centers, n_probe=_N_PROBE)
        cand = probes.join(cells, on="cell").select("q_id", "vec_id")
        kd = union_eg.select(
            "vec_id",
            F.transform("k", lambda x: x.cast("double")).alias("kd"),
        )
        qk = queries.select(
            "q_id",
            F.transform(
                as_double_array("embedding"),
                lambda x: F.floor(x * F.lit(1_000_000.0))
                .cast("long")
                .cast("double"),
            ).alias("qv"),
        )
        w = Window.partitionBy("q_id").orderBy("d", "vec_id")
        it = (
            cand.join(kd, on="vec_id")
            .join(F.broadcast(qk), on="q_id")
            .select(
                "q_id",
                "vec_id",
                grid_sqdist(F.col("qv"), F.col("kd")).alias("d"),
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select(F.col("q_id").alias("iq"), F.col("vec_id").alias("ivec"))
        )
        bt = (
            F.broadcast(qk)
            .crossJoin(kd)
            .select(
                "q_id",
                "vec_id",
                grid_sqdist(F.col("qv"), F.col("kd")).alias("d"),
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("q_id", "vec_id")
        )
        hits = bt.join(it, (bt.q_id == it.iq) & (bt.vec_id == it.ivec)).count()
        return hits / bt.count()

    emb = t(spark, SF, "embeddings")
    is_base = F.col("vec_id") % _D_MOD != _D_REM
    base = emb.filter(is_base).select("vec_id", "embedding")
    delta = emb.filter(~is_base).select(
        "vec_id",
        F.transform("embedding", lambda x: x + F.lit(_DRIFT_SHIFT)).alias(
            "embedding"
        ),
    )
    union = base.unionByName(delta).localCheckpoint(eager=True)
    ueg = union.select("vec_id", _grid_vec().alias("k")).localCheckpoint(
        eager=True
    )
    queries = (
        delta.orderBy("vec_id")
        .limit(20)
        .select(F.col("vec_id").alias("q_id"), "embedding")
        .localCheckpoint(eager=True)
    )

    bcells, centers = grid_ivf(base, n_cells=_N_CELLS, iters=_ITERS)
    centers = centers.localCheckpoint(eager=True)
    fcells = (
        bcells.select("vec_id", "cell")
        .unionByName(grid_assign_map(delta, centers.collect()))
        .localCheckpoint(eager=True)
    )
    rcells, rcenters = grid_ivf(union, n_cells=_N_CELLS, iters=_ITERS)
    rcenters = rcenters.localCheckpoint(eager=True)
    rcells = rcells.select("vec_id", "cell").localCheckpoint(eager=True)

    r_frozen = recall(ueg, fcells, centers, queries)
    r_retrained = recall(ueg, rcells, rcenters, queries)
    assert r_retrained >= r_frozen
    assert r_retrained >= 0.95


def test_prefix_encode_map_equals_batch_slice(spark):
    """The streaming-safe prefix map must equal the batch F.slice of
    the grid vector on every (vector, dim) — the tier's map ≡ batch
    law (trivial by construction; pinned so it stays trivial)."""
    from incubator_flink_old_spark.operators.similarity import (
        prefix_encode_map,
    )
    from incubator_flink_old_spark.queries._util import t
    from incubator_flink_old_spark.queries.llm_ops18 import _grid_vec
    from incubator_flink_old_spark.queries.llm_ops27 import _MRL_DIM

    emb = t(spark, SF, "embeddings")
    batch = {
        r.vec_id: tuple(r.pk)
        for r in emb.select(
            "vec_id", F.slice(_grid_vec(), 1, _MRL_DIM).alias("pk")
        ).collect()
    }
    mapped = {
        r.vec_id: tuple(r.pk)
        for r in prefix_encode_map(emb, prefix=_MRL_DIM).collect()
    }
    assert mapped == batch
    # prefix = full dim reproduces the whole grid vector (the
    # Matryoshka identity the recall row's prefix=dim law rides on)
    full = {
        r.vec_id: tuple(r.pk) for r in prefix_encode_map(emb, prefix=64).collect()
    }
    whole = {
        r.vec_id: tuple(r.k)
        for r in emb.select("vec_id", _grid_vec().alias("k")).collect()
    }
    assert full == whole


def test_prefix_encode_map_guards(spark):
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from incubator_flink_old_spark.operators.similarity import (
        prefix_encode_map,
    )
    from incubator_flink_old_spark.queries._util import t

    emb = t(spark, SF, "embeddings")
    with pytest.raises(ValueError, match="prefix must be >= 1"):
        prefix_encode_map(emb, prefix=0)
    with pytest.raises(SparkRuntimeException, match="fewer dims than"):
        prefix_encode_map(emb, prefix=65).collect()


def test_stream_prefix_encode_is_pure_map(spark):
    """No Exchange/Join/Window/Aggregate — the cheapest absorption of
    the streaming family (a guarded slice, no broadcast table)."""
    from incubator_flink_old_spark.operators.similarity import (
        prefix_encode_map,
    )
    from incubator_flink_old_spark.plans import explain_str
    from incubator_flink_old_spark.queries._util import t

    emb = t(spark, SF, "embeddings")
    plan = explain_str(prefix_encode_map(emb))
    for op in ("Exchange", "Join", "Window", "Aggregate"):
        assert op not in plan, op


def test_streaming_bm25_stats_equals_batch(spark):
    """The live-maintained lexical statistics must be bit-identical to
    bm25_index_stats over the whole corpus whatever the microbatch
    boundaries — every statistic is an integer sum (a commutative
    monoid), and this pins it stays that way."""
    from incubator_flink_old_spark.operators.retrieval import (
        bm25_index_stats,
        streaming_bm25_stats,
    )
    from incubator_flink_old_spark.queries._util import t
    from incubator_flink_old_spark.queries.llm_ops18 import _TS_TERMS
    from incubator_flink_old_spark.streaming import run_stream_to_memory

    docs = t(spark, SF, "documents")
    counts, dft = bm25_index_stats(docs, _TS_TERMS)
    want = counts.first()
    want_dft = {r.w: r.dft for r in dft.collect()}

    for n_files in (1, 4):
        src = tempfile.mkdtemp(prefix="t2_bm25_law_")
        try:
            docs.select("doc_id", "text").repartition(
                n_files
            ).write.mode("overwrite").parquet(src)
            stream = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            )
            name = f"bm25_law_{n_files}"
            run_stream_to_memory(
                streaming_bm25_stats(stream, _TS_TERMS),
                name,
                "complete",
                state_partitions=2,
            )
            got = spark.table(name).first()
        finally:
            shutil.rmtree(src, ignore_errors=True)
        assert got.n == want.n and got.toks == want.toks, n_files
        got_dft = {
            w: got[f"dft_{i}"]
            for i, w in enumerate(_TS_TERMS)
            if got[f"dft_{i}"] > 0
        }
        assert got_dft == want_dft, n_files


def test_streaming_bm25_stats_rejects_empty_terms(spark):
    from incubator_flink_old_spark.operators.retrieval import (
        streaming_bm25_stats,
    )
    from incubator_flink_old_spark.queries._util import t

    with pytest.raises(ValueError, match="at least one term"):
        streaming_bm25_stats(t(spark, SF, "documents"), ())


def _replay_stream(spark, df, n_files, schema, build, name):
    """Write df as n_files parquet files, replay 1 file/microbatch
    through build(stream), land in memory table `name`, return it."""
    from incubator_flink_old_spark.streaming import run_stream_to_memory

    src = tempfile.mkdtemp(prefix="t2_replay_")
    try:
        df.repartition(n_files).write.mode("overwrite").parquet(src)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        out, mode = build(stream)
        run_stream_to_memory(out, name, mode, state_partitions=2)
        return spark.table(name).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_stream_neardup_screen_equals_batch(spark):
    """The stream-static screen must emit exactly the batch
    minhash_lsh_pairs_between pairs (ids AND jaccard) at any microbatch
    split — each pair's verdict depends only on its own two token sets."""
    from incubator_flink_old_spark.operators.text import (
        minhash_lsh_pairs_between,
        streaming_neardup_screen,
    )
    from incubator_flink_old_spark.queries._util import t

    docs = t(spark, SF, "documents")
    is_new = F.col("doc_id") % 5 == 4
    corpus = docs.filter(~is_new)
    batch = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_lsh_pairs_between(
            docs.filter(is_new), corpus, band_size=4
        ).collect()
    }
    for n_files in (1, 4):
        tbl = _replay_stream(
            spark,
            docs.filter(is_new).select("doc_id", "text"),
            n_files,
            "doc_id long, text string",
            lambda s: (
                streaming_neardup_screen(s, corpus, band_size=4),
                "append",
            ),
            f"nds_law_{n_files}",
        )
        got = {(r.doc_a, r.doc_b): r.jaccard for r in tbl.collect()}
        assert got == batch, n_files


def test_stream_drift_audit_equals_batch(spark):
    """The live (j, code) audit must equal q_pq_incremental's batch
    audit exactly — integer sums are boundary-invariant."""
    from incubator_flink_old_spark.operators.similarity import (
        grid_pq,
        grid_pq_encode_map,
    )
    from incubator_flink_old_spark.queries._util import t
    from incubator_flink_old_spark.queries.llm_ops11 import (
        _PQ_CENTROIDS,
        _PQ_ITERS,
        _PQ_M,
    )

    emb = t(spark, SF, "embeddings")
    is_base = F.col("vec_id") % 5 != 4
    _, books = grid_pq(
        emb.filter(is_base),
        m=_PQ_M,
        n_centroids=_PQ_CENTROIDS,
        iters=_PQ_ITERS,
    )
    book_rows = books.collect()
    batch = {
        (r.j, r.code): (r.n_delta, r.qerr)
        for r in grid_pq_encode_map(emb.filter(~is_base), book_rows, m=_PQ_M)
        .groupBy("j", "code")
        .agg(F.count(F.lit(1)).alias("n_delta"), F.sum("qerr").alias("qerr"))
        .collect()
    }
    tbl = _replay_stream(
        spark,
        emb.filter(~is_base).select("vec_id", "embedding"),
        3,
        "vec_id long, embedding array<float>",
        lambda s: (
            grid_pq_encode_map(s, book_rows, m=_PQ_M)
            .groupBy("j", "code")
            .agg(
                F.count(F.lit(1)).alias("n_delta"),
                F.sum("qerr").alias("qerr"),
            ),
            "complete",
        ),
        "drift_audit_law",
    )
    got = {(r.j, r.code): (r.n_delta, r.qerr) for r in tbl.collect()}
    assert got == batch


def test_bm25_multi_topk_single_query_equals_bm25_topk(spark):
    """A one-query batch must reproduce the fixed-term scorer's ranking
    exactly — same idf/k1/b arithmetic, and the sorted-term fold equals
    bm25_topk's fixed left-to-right fold when the term tuple is given
    sorted (as _TS_TERMS is)."""
    from incubator_flink_old_spark.operators.retrieval import (
        bm25_multi_topk,
        bm25_topk,
    )
    from incubator_flink_old_spark.queries._util import t
    from incubator_flink_old_spark.queries.llm_ops18 import _TS_TERMS
    from incubator_flink_old_spark.sources import local_rows

    docs = t(spark, SF, "documents")
    single = [
        (r.doc_id, r.bm25)
        for r in bm25_topk(docs, terms=_TS_TERMS, top_k=15).collect()
    ]
    queries = local_rows(
        spark, [(0, list(_TS_TERMS))], "q_id bigint, terms array<string>"
    )
    multi = [
        (r.doc_id, r.bm25)
        for r in bm25_multi_topk(docs, queries, top_k=15)
        .orderBy("rnk")
        .collect()
    ]
    assert multi == single
