"""Training-data pipeline queries, wave 42 (round 8, VERDICT r07 item
4): streaming TOP-K BY SCORE with bounded state — the order-statistic
sibling of the SpaceSaving frequency row (q_stream_hh_parity). State is
O(k) per group; the merge is a semilattice (topk(A ∪ B) =
topk(topk(A) ∪ B)), so the final emission is exactly the batch top-k
whatever the microbatch boundaries — the invariance the law test
permutes and the driver row hash-checks against plain window SQL.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from incubator_flink_old_spark.queries import register
from incubator_flink_old_spark.queries._util import t, vec_id_thirds

_TOPK_K = 5

_STREAM_TOPK_ORACLE = f"""
    SELECT event_type, event_id, value, CAST(rnk AS INT) AS rnk FROM (
        SELECT event_type, event_id, value,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY value DESC, event_id
               ) AS rnk
        FROM events) t
    WHERE rnk <= {_TOPK_K}
    """


@register("q_stream_topk_parity", oracle=_STREAM_TOPK_ORACLE)
def q_stream_topk_parity(spark, sf_dir):
    """Streaming bounded-state top-k ⇄ batch window parity
    (streaming.stateful_topk). The events land as FOUR parquet files
    replayed one file per microbatch, so the per-group k-row heap
    genuinely merges across batches through the state store. Top-k is a
    semilattice merge — topk(A ∪ B) = topk(topk(A) ∪ B) — so the LAST
    emission per group is exactly the batch top-k over all rows; the
    readback selects it via the monotone ``seen`` counter (rows
    absorbed per group) rather than a batch-id channel. No arithmetic
    touches the score (pure comparisons on parquet doubles, ties broken
    by event_id), so the hash against the plain ROW_NUMBER window is
    exact.

    Scale: state is O(k) per group forever — the property that makes
    per-key leaderboards viable over unbounded streams; emissions are k
    rows per group per batch, and the readback scans emissions, never
    the source. At 100 TB/day the same operator keeps per-entity
    leaderboards (top documents by quality score, top URLs by spam
    signal) with state independent of stream length."""
    from incubator_flink_old_spark.streaming import (
        replay_source,
        stateful_topk,
        stream_result,
    )

    events = t(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    )
    with replay_source([events.repartition(4)]) as stream:
        tbl = stream_result(
            stateful_topk(stream, k=_TOPK_K), "update", state_partitions=4
        )
    w = Window.partitionBy("event_type")
    return (
        tbl.withColumn("mx", F.max("seen").over(w))
        .filter(F.col("seen") == F.col("mx"))
        .select(
            "event_type",
            "event_id",
            "value",
            F.col("batch_rank").alias("rnk"),
        )
    )


# --------------------------------------------------------------------------
# PQ incremental maintenance: delta vectors encoded against FROZEN codebooks
# --------------------------------------------------------------------------

#: Base/delta split — the maintenance family's shared convention
#: (vec_id % 5 == 4 is the newly arrived 20%).
_PQ_DELTA_MOD = 5
_PQ_DELTA_REM = 4


def _pq_incremental_oracle() -> str:
    from incubator_flink_old_spark.queries.llm_ops11 import (
        _PQ_M,
        _PQ_SUB,
        _grid_pq_ctes,
        _sql_sqdist,
    )

    pq_ctes, books = _grid_pq_ctes(include_e=False)
    return f"""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(FLOOR(x * 1000000.0) AS BIGINT)) AS k
        FROM embeddings
        WHERE vec_id % {_PQ_DELTA_MOD} <> {_PQ_DELTA_REM}),
    {pq_ctes},
    de AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(FLOOR(x * 1000000.0) AS BIGINT)) AS k
        FROM embeddings
        WHERE vec_id % {_PQ_DELTA_MOD} = {_PQ_DELTA_REM}),
    dsubs AS (
        SELECT vec_id, r.j AS j,
               list_slice(k, r.j * {_PQ_SUB} + 1,
                          r.j * {_PQ_SUB} + {_PQ_SUB}) AS sv
        FROM de, range(0, {_PQ_M}) r(j)),
    denc AS (
        SELECT vec_id, j, code, d FROM (
            SELECT s.vec_id, s.j, b.cid AS code,
                   {_sql_sqdist('s.sv', 'b.bv')} AS d,
                   ROW_NUMBER() OVER (
                       PARTITION BY s.vec_id, s.j
                       ORDER BY {_sql_sqdist('s.sv', 'b.bv')}, b.cid
                   ) AS rn
            FROM dsubs s JOIN {books} b ON s.j = b.j) t
        WHERE rn = 1)
    SELECT CAST(j AS INTEGER) AS j, CAST(code AS INTEGER) AS code,
           CAST(COUNT(*) AS BIGINT) AS n_delta,
           CAST(SUM(CAST(d AS BIGINT)) AS BIGINT) AS qerr
    FROM denc GROUP BY j, code
    """


@register("q_pq_incremental", oracle=_pq_incremental_oracle())
def q_pq_incremental(spark, sf_dir):
    """PQ index maintenance — delta vectors encoded against FROZEN
    codebooks (operators/similarity.grid_pq_encode_map), completing the
    maintenance matrix: IVF frozen-center assign (q_ivf_incremental),
    BM25 stats merge (q_bm25_incremental), SQ8 frozen-bounds encode
    (q_sq8_incremental), and now the PQ codebook tier. The codebooks
    train on the 80% base corpus only; the 20% delta is absorbed by a
    map-only nearest-code fold — cost scales with the delta, never the
    corpus (the absorb-vs-retrain shape PERF.md "Round 7: index
    maintenance" measures FLAT under 16x growth for the siblings).

    Returned audit: per (subspace, code) delta counts and EXACT integer
    quantization-error sums — the drift signal a maintenance loop
    consumes (q_drift_retrain is the consumer pattern):
    rising qerr per absorbed batch says the frozen codebooks no longer
    describe the data and the retrain threshold is approaching.

    Cross-engine exactness: the trainer replays via _grid_pq_ctes
    (integer truncated-mean Lloyd, the established chain) and the delta
    assignment is exact-integer squared-L2 tie-broken by centroid id;
    qerr sums ride BIGINT on both engines (per-row d < 2^53 but the
    SUM may not be — the dot_long lesson).

    Scale: books are m·n_centroids rows, collected and embedded in the
    plan; the delta encode is a pure map (no join, no window, no
    shuffle of the corpus); the audit output is ≤ m·n_centroids rows."""
    from incubator_flink_old_spark.operators.similarity import (
        grid_pq,
        grid_pq_encode_map,
    )
    from incubator_flink_old_spark.queries.llm_ops11 import (
        _PQ_CENTROIDS,
        _PQ_ITERS,
        _PQ_M,
    )

    emb = t(spark, sf_dir, "embeddings")
    is_base = F.col("vec_id") % _PQ_DELTA_MOD != _PQ_DELTA_REM
    _, books = grid_pq(
        emb.filter(is_base),
        m=_PQ_M,
        n_centroids=_PQ_CENTROIDS,
        iters=_PQ_ITERS,
    )
    denc = grid_pq_encode_map(emb.filter(~is_base), books.collect(), m=_PQ_M)
    return denc.groupBy("j", "code").agg(
        F.count(F.lit(1)).alias("n_delta"),
        F.sum("qerr").alias("qerr"),
    )


# --------------------------------------------------------------------------
# The production retrieval LIFECYCLE: maintained index, absorbed delta,
# hybrid query — the integration row tying the maintenance matrix to the
# retrieval recipe
# --------------------------------------------------------------------------


def _lifecycle_oracle() -> str:
    from incubator_flink_old_spark.queries.llm_ops11 import (
        _DIM,
        _N_PROBE,
        _grid_ivf_ctes,
        _sql_cos,
    )
    from incubator_flink_old_spark.queries.llm_ops18 import (
        _SQ_LEVELS,
        _TS_FEEDBACK,
        _TS_FINAL,
        _bm25_ctes,
    )
    from incubator_flink_old_spark.queries.llm_ops26 import (
        _HY_DENSE,
        _HY_REFINE,
    )

    base_src = (
        f"(SELECT * FROM embeddings WHERE vec_id % {_PQ_DELTA_MOD} "
        f"<> {_PQ_DELTA_REM}) base_emb"
    )
    ivf_ctes, last_centers = _grid_ivf_ctes(src=base_src)

    def _dot(a: str, b: str) -> str:
        return (
            f"list_dot_product(list_transform({a}, x -> CAST(x AS DOUBLE)),"
            f" list_transform({b}, x -> CAST(x AS DOUBLE)))"
        )

    return f"""
    WITH {ivf_ctes},
    eu AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(FLOOR(x * 1000000.0) AS BIGINT)) AS k
        FROM embeddings),
    da AS (
        SELECT vec_id, cell FROM (
            SELECT eu.vec_id, c.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY eu.vec_id
                       ORDER BY {_sql_cos('eu.k', 'c.cv')} DESC, c.cell
                   ) AS rn
            FROM eu CROSS JOIN {last_centers} c
            WHERE eu.vec_id % {_PQ_DELTA_MOD} = {_PQ_DELTA_REM}) t
        WHERE rn = 1),
    ma AS (
        SELECT vec_id, cell FROM af
        UNION ALL
        SELECT vec_id, cell FROM da),
    udims AS (
        SELECT vec_id, r.p AS p, k[r.p] AS v
        FROM eu, range(1, {_DIM + 1}) r(p)),
    mmb AS (
        SELECT p, MIN(v) AS lo, MAX(v) AS hi FROM udims
        WHERE vec_id % {_PQ_DELTA_MOD} <> {_PQ_DELTA_REM} GROUP BY p),
    qdu AS (
        SELECT d.vec_id, d.p,
               CASE WHEN m.hi = m.lo THEN 0
                    ELSE LEAST(GREATEST(
                        (d.v - m.lo) * {_SQ_LEVELS} // (m.hi - m.lo),
                        0), {_SQ_LEVELS})
               END AS c
        FROM udims d JOIN mmb m ON d.p = m.p),
    {_bm25_ctes()},
    fb AS (
        SELECT doc_id FROM cand ORDER BY bm25 DESC, doc_id
        LIMIT {_TS_FEEDBACK}),
    qv AS (
        SELECT r.p AS p, SUM(eu.k[r.p]) AS v
        FROM fb JOIN eu ON fb.doc_id = eu.vec_id, range(1, {_DIM + 1}) r(p)
        GROUP BY r.p),
    qvec AS (SELECT list(v ORDER BY p) AS qk FROM qv),
    pr AS (
        SELECT cell FROM (
            SELECT c.cell,
                   ROW_NUMBER() OVER (
                       ORDER BY {_sql_cos('q.qk', 'c.cv')} DESC, c.cell
                   ) AS rn
            FROM qvec q CROSS JOIN {last_centers} c) t
        WHERE rn <= {_N_PROBE}),
    adcw AS (
        SELECT q.p AS p, CAST(q.v AS BIGINT) * (m.hi - m.lo) AS w
        FROM qv q JOIN mmb m ON q.p = m.p),
    adc AS (
        SELECT a.vec_id, SUM(CAST(d.c AS BIGINT) * w.w) AS s
        FROM pr JOIN ma a ON pr.cell = a.cell
        JOIN qdu d ON d.vec_id = a.vec_id
        JOIN adcw w ON w.p = d.p
        GROUP BY a.vec_id),
    sh AS (
        SELECT vec_id FROM (
            SELECT vec_id,
                   ROW_NUMBER() OVER (ORDER BY s DESC, vec_id) AS rn
            FROM adc) t
        WHERE rn <= {_HY_REFINE}),
    dc AS (
        SELECT vec_id AS doc_id FROM (
            SELECT s2.vec_id,
                   ROW_NUMBER() OVER (
                       ORDER BY {_dot('q.qk', 'e2.k')} DESC, s2.vec_id
                   ) AS rn
            FROM sh s2 JOIN eu e2 ON s2.vec_id = e2.vec_id
            CROSS JOIN qvec q) t
        WHERE rn <= {_HY_DENSE}),
    uc AS (
        SELECT COALESCE(c.doc_id, d.doc_id) AS doc_id,
               COALESCE(c.bm25, 0.0) AS bm25
        FROM cand c FULL OUTER JOIN dc d ON c.doc_id = d.doc_id),
    scored AS (
        SELECT u.doc_id, u.bm25,
               CAST({_dot('q.qk', 'eu.k')} AS BIGINT) AS dense_ip
        FROM uc u JOIN eu ON u.doc_id = eu.vec_id CROSS JOIN qvec q)
    SELECT doc_id, bm25, dense_ip
    FROM scored
    ORDER BY dense_ip DESC, doc_id
    LIMIT {_TS_FINAL}
    """


@register("q_retrieval_lifecycle", oracle=_lifecycle_oracle())
def q_retrieval_lifecycle(spark, sf_dir):
    """The PRODUCTION RETRIEVAL LIFECYCLE in one row — the integration
    the maintenance matrix exists for: every index artifact is trained
    on the 80% base corpus, the 20% delta is ABSORBED by the shipped
    maintenance operators (never retrained), and the hybrid query runs
    against the maintained index over the full union:

    - IVF: centers train on base (grid_ivf); delta vectors land in
      their cells via grid_assign_map against the FROZEN centers
      (q_ivf_incremental's absorb path).
    - SQ8: quantizer bounds freeze on base (_sq_bounds); the union
      encodes against them with boundary clamping (q_sq8_incremental).
    - BM25: corpus statistics merge from per-source digests
      (merge_bm25_stats — q_bm25_incremental), injected into the
      lexical arm via bm25_topk(index_stats=...); the merge is
      integer-exact, so the oracle's recomputed stats are bit-identical
      (the law tests/test_wave41.py pins).

    The query itself is q_retrieval_hybrid's chain unchanged (BM25 ∪
    probed SQ8 code scan → refine → exact rerank), with every index
    injected instead of inline-trained — the deployment shape where the
    index is a TABLE amortized across queries and absorbing deltas
    between retrains (PERF.md: absorption flat under 16x growth,
    prebuilt index 2.7x faster per query, drift-gated retrain in
    q_drift_retrain).

    Scale: identical to q_retrieval_hybrid's posture — the absorb adds
    one broadcast-join map over the delta and a digest-sized stats
    merge, nothing corpus-shaped."""
    from incubator_flink_old_spark.operators.retrieval import (
        bm25_index_stats,
        bm25_topk,
        merge_bm25_stats,
    )
    from incubator_flink_old_spark.operators.similarity import (
        grid_assign_map,
        grid_ivf,
    )
    from incubator_flink_old_spark.queries.llm_ops11 import _ITERS, _N_CELLS
    from incubator_flink_old_spark.queries.llm_ops18 import (
        _TS_CANDIDATES,
        _TS_TERMS,
        _grid_vec,
        _sq_bounds,
        _sq_codes,
    )
    from incubator_flink_old_spark.queries.llm_ops26 import _hybrid_topk

    emb = t(spark, sf_dir, "embeddings")
    docs = t(spark, sf_dir, "documents")
    is_base = F.col("vec_id") % _PQ_DELTA_MOD != _PQ_DELTA_REM

    # IVF maintained: base-trained centers, delta absorbed
    bcells, centers = grid_ivf(
        emb.filter(is_base), n_cells=_N_CELLS, iters=_ITERS
    )
    mcells = bcells.select("vec_id", "cell").unionByName(
        grid_assign_map(emb.filter(~is_base), centers.collect())
    )

    # SQ8 maintained: frozen base bounds, clamped union encode
    fbounds = _sq_bounds(
        emb.filter(is_base).select("vec_id", _grid_vec().alias("k"))
    )
    fcodes = _sq_codes(
        emb.select("vec_id", _grid_vec().alias("k")),
        bounds=fbounds,
        clamp=True,
    )

    # BM25 maintained: per-source digests merged, injected into stage 1
    is_dbase = F.col("doc_id") % _PQ_DELTA_MOD != _PQ_DELTA_REM
    stats = merge_bm25_stats(
        bm25_index_stats(docs.filter(is_dbase), _TS_TERMS),
        bm25_index_stats(docs.filter(~is_dbase), _TS_TERMS),
    )
    cand = bm25_topk(
        docs, terms=_TS_TERMS, top_k=_TS_CANDIDATES, index_stats=stats
    )

    return _hybrid_topk(
        docs,
        emb,
        cand=cand,
        index=(mcells, centers),
        codes=(fcodes, fbounds),
    )


# --------------------------------------------------------------------------
# Streaming PQ encoding: delta vectors encode against frozen codebooks as a
# pure map — the PQ tier's streaming dimension
# --------------------------------------------------------------------------


def _stream_pq_oracle() -> str:
    from incubator_flink_old_spark.queries.llm_ops11 import (
        _PQ_M,
        _PQ_SUB,
        _grid_pq_ctes,
        _sql_sqdist,
    )

    pq_ctes, books = _grid_pq_ctes(include_e=False)
    return f"""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(FLOOR(x * 1000000.0) AS BIGINT)) AS k
        FROM embeddings
        WHERE vec_id % {_PQ_DELTA_MOD} <> {_PQ_DELTA_REM}),
    {pq_ctes},
    de AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(FLOOR(x * 1000000.0) AS BIGINT)) AS k
        FROM embeddings
        WHERE vec_id % {_PQ_DELTA_MOD} = {_PQ_DELTA_REM}),
    dsubs AS (
        SELECT vec_id, r.j AS j,
               list_slice(k, r.j * {_PQ_SUB} + 1,
                          r.j * {_PQ_SUB} + {_PQ_SUB}) AS sv
        FROM de, range(0, {_PQ_M}) r(j))
    SELECT vec_id, CAST(j AS INTEGER) AS j, CAST(code AS INTEGER) AS code,
           CAST(d AS BIGINT) AS qerr
    FROM (
        SELECT s.vec_id, s.j, b.cid AS code,
               {_sql_sqdist('s.sv', 'b.bv')} AS d,
               ROW_NUMBER() OVER (
                   PARTITION BY s.vec_id, s.j
                   ORDER BY {_sql_sqdist('s.sv', 'b.bv')}, b.cid
               ) AS rn
        FROM dsubs s JOIN {books} b ON s.j = b.j) t
    WHERE rn = 1
    """


@register("q_stream_pq_encode_parity", oracle=_stream_pq_oracle())
def q_stream_pq_encode_parity(spark, sf_dir):
    """STREAMING PQ encoding ⇄ batch parity — the PQ tier's streaming
    dimension, exactly as q_stream_ivf_assign_parity is the IVF tier's:
    new vectors arrive as a REAL multi-batch stream and each emits its
    m codes through operators/similarity.grid_pq_encode_map — the
    map-only form (codebooks as a literal array-of-arrays indexed by
    subspace, expression-level argmin folds) that Structured Streaming
    accepts, since the join+window form is off-limits there. The batch
    twin is q_pq_incremental's frozen-codebook encode; the map ≡
    join+window law is pinned in tests/test_wave42.py, and the oracle
    replays the base-corpus trainer plus the delta assignment
    value-exactly (including the BIGINT qerr audit column).

    Scale: per micro-batch cost is a pure map over the batch's rows
    (m·n_centroids·(dim/m) literals ship once in the plan; no shuffle,
    no state) — a live embedding feed lands 64x-compressed at ingest
    throughput, and q_pq_incremental's qerr drift audit runs downstream
    on the landed codes."""
    from incubator_flink_old_spark.operators.similarity import (
        grid_pq,
        grid_pq_encode_map,
    )
    from incubator_flink_old_spark.queries.llm_ops11 import (
        _PQ_CENTROIDS,
        _PQ_ITERS,
        _PQ_M,
    )
    from incubator_flink_old_spark.streaming import replay_source, stream_result

    emb = t(spark, sf_dir, "embeddings")
    is_base = F.col("vec_id") % _PQ_DELTA_MOD != _PQ_DELTA_REM
    _, books = grid_pq(
        emb.filter(is_base),
        m=_PQ_M,
        n_centroids=_PQ_CENTROIDS,
        iters=_PQ_ITERS,
    )
    book_rows = books.collect()  # m*n_centroids rows — bounded by design

    delta = emb.filter(~is_base).select("vec_id", "embedding")
    with replay_source(
        b.repartition(1) for b in vec_id_thirds(delta)
    ) as stream:
        out = stream_result(
            grid_pq_encode_map(stream, book_rows, m=_PQ_M),
            "append",
            state_partitions=None,
        )
    return out.select("vec_id", "j", "code", "qerr")


# --------------------------------------------------------------------------
# Streaming SQ8 encoding: delta vectors encode against frozen bounds as a
# pure map — the SQ8 tier's streaming dimension
# --------------------------------------------------------------------------


def _stream_sq8_oracle() -> str:
    from incubator_flink_old_spark.queries.llm_ops11 import _DIM
    from incubator_flink_old_spark.queries.llm_ops18 import (
        _GRID,
        _SQ_LEVELS,
    )

    return f"""
    WITH bdims AS (
        SELECT r.p AS p, k[r.p] AS v FROM (
            SELECT list_transform(embedding::DOUBLE[],
                       x -> CAST(FLOOR(x * {_GRID}) AS BIGINT)) AS k
            FROM embeddings
            WHERE vec_id % {_PQ_DELTA_MOD} <> {_PQ_DELTA_REM}) b,
            range(1, {_DIM + 1}) r(p)),
    mm AS (SELECT p, MIN(v) AS lo, MAX(v) AS hi FROM bdims GROUP BY p),
    ddims AS (
        SELECT vec_id, r.p AS p, k[r.p] AS v FROM (
            SELECT vec_id,
                   list_transform(embedding::DOUBLE[],
                       x -> CAST(FLOOR(x * {_GRID}) AS BIGINT)) AS k
            FROM embeddings
            WHERE vec_id % {_PQ_DELTA_MOD} = {_PQ_DELTA_REM}) d,
            range(1, {_DIM + 1}) r(p))
    SELECT d.vec_id, CAST(d.p AS BIGINT) AS p,
           CAST(CASE WHEN m.hi = m.lo THEN 0
                ELSE LEAST(GREATEST(
                    (d.v - m.lo) * {_SQ_LEVELS} // (m.hi - m.lo),
                    0), {_SQ_LEVELS})
           END AS BIGINT) AS c
    FROM ddims d JOIN mm m ON d.p = m.p
    """


@register("q_stream_sq8_encode_parity", oracle=_stream_sq8_oracle())
def q_stream_sq8_encode_parity(spark, sf_dir):
    """STREAMING SQ8 encoding ⇄ batch parity — the third and last tier
    of the maintenance matrix's streaming dimension (IVF:
    q_stream_ivf_assign_parity; PQ: q_stream_pq_encode_parity): delta
    vectors arrive as a REAL multi-batch stream and each emits its 64
    clamped codes through operators/similarity.sq8_encode_map — the
    64-row frozen quantizer table embedded as literal per-dim arrays,
    a stateless posexplode + projection that Structured Streaming
    accepts. The batch twin is q_sq8_incremental's frozen-bounds
    encode; the map ≡ batch law is pinned in tests/test_wave42.py, and
    the per-dim output rows are exactly what the clamp-count drift
    audit consumes downstream.

    Scale: per micro-batch cost is a pure map (64·2 literal longs ship
    once in the plan; no shuffle, no state) — a live embedding feed
    lands 8x-compressed at ingest throughput."""
    from incubator_flink_old_spark.operators.similarity import (
        sq8_encode_map,
    )
    from incubator_flink_old_spark.queries.llm_ops18 import (
        _SQ_LEVELS,
        _grid_vec,
        _sq_bounds,
    )
    from incubator_flink_old_spark.streaming import replay_source, stream_result

    emb = t(spark, sf_dir, "embeddings")
    is_base = F.col("vec_id") % _PQ_DELTA_MOD != _PQ_DELTA_REM
    bounds_rows = _sq_bounds(
        emb.filter(is_base).select("vec_id", _grid_vec().alias("k"))
    ).collect()  # 64 rows — bounded by design

    delta = emb.filter(~is_base).select("vec_id", "embedding")
    with replay_source(
        b.repartition(1) for b in vec_id_thirds(delta)
    ) as stream:
        out = stream_result(
            sq8_encode_map(stream, bounds_rows, levels=_SQ_LEVELS),
            "append",
            state_partitions=None,
        )
    return out.select("vec_id", "p", "c")


# --------------------------------------------------------------------------
# Streaming CDC latest-wins compaction: the upsert MERGE view maintained live
# --------------------------------------------------------------------------

_CDC_ORACLE = """
    WITH r AS (
        SELECT user_id, event_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events)
    SELECT user_id, event_id, event_type, value
    FROM r WHERE rn = 1 AND event_type <> 'error'
    """


@register("q_stream_cdc_parity", oracle=_CDC_ORACLE)
def q_stream_cdc_parity(spark, sf_dir):
    """Streaming latest-wins compaction ⇄ batch parity
    (streaming.stateful_latest): the CDC/upsert MERGE view
    (q_cdc_latest's semantics, same oracle) maintained continuously
    over a REAL 4-file multi-batch replay. Latest-wins is an argmax
    semilattice over the (ts, event_id) total order, so the final
    emission per key is EXACTLY the batch ROW_NUMBER window whatever
    the batch boundaries — boundary invariance law-pinned in
    tests/test_wave42.py. Epoch micros are computed Spark-side before
    the aggregation (the stateful_session epoch lesson); the 'error'
    tombstone drops the key at readback exactly as the batch form
    filters it.

    Scale: state is ONE row per key forever — the property that makes
    a continuously-fresh upsert view viable over an unbounded change
    stream; emissions are one row per key per batch and the readback
    scans emissions, never the log."""
    from incubator_flink_old_spark.streaming import (
        replay_source,
        stateful_latest,
        stream_result,
    )

    changes = t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_id",
        "event_type",
        "value",
    )
    with replay_source([changes.repartition(4)]) as stream:
        tbl = stream_result(stateful_latest(stream), "update")
    w = Window.partitionBy("user_id")
    return (
        tbl.withColumn("mx", F.max("seen").over(w))
        .filter(
            (F.col("seen") == F.col("mx"))
            & (F.col("event_type") != "error")
        )
        .select("user_id", "event_id", "event_type", "value")
    )


# --------------------------------------------------------------------------
# Dimension-truncated ANN tier: rank the probed pool over a PREFIX of the
# dimensions, refine the shortlist at full dimensionality — the Matryoshka-
# style compression axis (truncate dims) next to SQ8 (quantize values) and
# PQ (quantize subspaces)
# --------------------------------------------------------------------------

#: Prefix length for stage A — 16 of 64 dims = 4x fewer bytes scanned.
_MRL_DIM = 16


def _prefix_refine_oracle() -> str:
    from incubator_flink_old_spark.queries.llm_ops11 import (
        _N_PROBE,
        _N_QUERIES,
        _TOPK,
        _grid_ivf_ctes,
        _sql_cos,
        _sql_sqdist,
    )
    from incubator_flink_old_spark.queries.llm_ops26 import _REFINE_C

    ivf_ctes, last_centers = _grid_ivf_ctes()

    def _pfx(col: str) -> str:
        return f"list_slice({col}, 1, {_MRL_DIM})"

    return f"""
    WITH {ivf_ctes},
    q AS (
        SELECT vec_id AS q_id, k FROM e WHERE vec_id < {_N_QUERIES}),
    pr AS (
        SELECT q_id, cell FROM (
            SELECT q.q_id, c.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.q_id
                       ORDER BY {_sql_cos('q.k', 'c.cv')} DESC, c.cell
                   ) AS rn
            FROM q CROSS JOIN {last_centers} c) t
        WHERE rn <= {_N_PROBE}),
    sh AS (
        SELECT q_id, vec_id FROM (
            SELECT p.q_id, a.vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.q_id
                       ORDER BY {_sql_sqdist(_pfx('q.k'), _pfx('a.k'))},
                                a.vec_id
                   ) AS rn
            FROM pr p JOIN af a ON p.cell = a.cell
            JOIN q ON q.q_id = p.q_id) t
        WHERE rn <= {_REFINE_C}),
    it AS (
        SELECT q_id, vec_id FROM (
            SELECT s.q_id, s.vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY s.q_id
                       ORDER BY {_sql_sqdist('q.k', 'e2.k')}, s.vec_id
                   ) AS rn
            FROM sh s JOIN e e2 ON s.vec_id = e2.vec_id
            JOIN q ON q.q_id = s.q_id) t
        WHERE rn <= {_TOPK}),
    bt AS (
        SELECT q_id, vec_id FROM (
            SELECT q.q_id, c.vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.q_id
                       ORDER BY {_sql_sqdist('q.k', 'c.k')}, c.vec_id) AS rn
            FROM q CROSS JOIN e c) t
        WHERE rn <= {_TOPK})
    SELECT b.q_id,
           CAST(COUNT(i.vec_id) AS BIGINT) AS hits,
           CAST(COUNT(i.vec_id) AS DOUBLE) / {_TOPK}.0 AS recall
    FROM bt b
    LEFT JOIN it i ON b.q_id = i.q_id AND b.vec_id = i.vec_id
    GROUP BY b.q_id
    """


def _prefix_refine_recall_df(spark, sf_dir, refine_c=None, prefix=None):
    """Shared body of q_ann_recall_prefix; the law tests vary refine_c
    (refine_c ≥ pool ≡ exact-over-cells) and the prefix length
    (prefix = full dim ⇒ stage A IS the exact ranking)."""
    from pyspark.sql import Window

    from incubator_flink_old_spark.operators.similarity import (
        grid_ivf,
        grid_probes,
        grid_sqdist,
    )
    from incubator_flink_old_spark.queries.llm_ops11 import (
        _ITERS,
        _N_CELLS,
        _N_PROBE,
        _N_QUERIES,
        _TOPK,
    )
    from incubator_flink_old_spark.queries.llm_ops18 import _grid_vec
    from incubator_flink_old_spark.queries.llm_ops26 import _REFINE_C

    refine_c = _REFINE_C if refine_c is None else refine_c
    prefix = _MRL_DIM if prefix is None else prefix
    emb = t(spark, sf_dir, "embeddings")
    cells, centers = grid_ivf(emb, n_cells=_N_CELLS, iters=_ITERS)
    eg = emb.select("vec_id", _grid_vec().alias("k"))
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    probes = grid_probes(queries, centers, n_probe=_N_PROBE)
    cand = probes.join(cells, on="cell").select("q_id", "vec_id")
    # stage A: prefix-dim scan — the only corpus-shaped read, at
    # (prefix/dim)x the bytes of the full vectors
    pk = eg.select(
        "vec_id",
        F.transform(
            F.slice("k", 1, prefix), lambda x: x.cast("double")
        ).alias("pk"),
    )
    qpk = pk.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("pk").alias("qp")
    )
    wc = Window.partitionBy("q_id").orderBy("pd", "vec_id")
    shortlist = (
        cand.join(pk, on="vec_id")
        .join(F.broadcast(qpk), on="q_id")
        .select(
            "q_id", "vec_id", grid_sqdist(F.col("qp"), F.col("pk")).alias("pd")
        )
        .withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") <= refine_c)
        .select("q_id", "vec_id")
    )
    # stage B: full-dim refine over the shortlist (point reads)
    kd = eg.select(
        "vec_id", F.transform("k", lambda x: x.cast("double")).alias("kd")
    )
    qk = kd.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("kd").alias("qv")
    )
    w = Window.partitionBy("q_id").orderBy("d", "vec_id")
    it = (
        shortlist.join(kd, on="vec_id")
        .join(F.broadcast(qk), on="q_id")
        .select(
            "q_id", "vec_id", grid_sqdist(F.col("qv"), F.col("kd")).alias("d")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOPK)
        .select(F.col("q_id").alias("iq"), F.col("vec_id").alias("ivec"))
    )
    bt = (
        F.broadcast(qk)
        .crossJoin(kd.select("vec_id", F.col("kd").alias("cv")))
        .select(
            "q_id", "vec_id", grid_sqdist(F.col("qv"), F.col("cv")).alias("d")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOPK)
        .select("q_id", "vec_id")
    )
    return (
        bt.join(it, (bt.q_id == it.iq) & (bt.vec_id == it.ivec), "left")
        .groupBy("q_id")
        .agg(
            F.count("ivec").alias("hits"),
            (F.count("ivec").cast("double") / _TOPK).alias("recall"),
        )
    )


@register("q_ann_recall_prefix", oracle=_prefix_refine_oracle())
def q_ann_recall_prefix(spark, sf_dir):
    """MEASURED recall@5 for IVF + DIMENSION-TRUNCATED scan + full-dim
    refine — the Matryoshka-style compression axis added to the ANN
    matrix: where SQ8 quantizes VALUES (8x) and PQ quantizes SUBSPACES
    (64x), this tier truncates DIMENSIONS (prefix 16 of 64 = 4x fewer
    bytes in the corpus-shaped stage-A scan) and removes the truncation
    error for the refine_c shortlist with full-dim point reads — the
    recipe embedding providers trained with matryoshka objectives
    deploy. The probed pool is reached by the family's shared IVF probe;
    exact integer prefix squared-L2 tie-broken by vec_id; ground truth
    is the brute-force full-dim top-5 over the 20-query sample.

    Laws (tests/test_wave42.py): refine_c ≥ pool ⇒ identical to the
    exact ranking over the probed cells (truncation error fully
    removed); prefix = full dim ⇒ stage A already IS the exact ranking
    at any refine_c ≥ k. Cross-engine: all arithmetic is exact-integer
    grid sqdist (the established recipe), list_slice ⇄ F.slice.

    Scale: stage A reads prefix·8 bytes per probed row (a column-pruned
    scan under a dims-split layout — at 100 TB store the first 16 dims
    as their own column family); stage B is refine_c point reads per
    query, corpus-independent."""
    return _prefix_refine_recall_df(spark, sf_dir)
