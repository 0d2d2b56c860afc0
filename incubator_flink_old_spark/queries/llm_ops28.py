"""Training-data pipeline queries, wave 43 (round 9, VERDICT r08 items
1-3): the DRIFT-GATED COARSE RETRAIN promoted from a tools/ demo to a
driver-checked row, the streaming END-TO-END retrieval lifecycle (the
three pure-map encoders composed with the hybrid serve), and the prefix
tier's streaming absorption — closing the ANN tier × maintenance matrix
on both axes for all four tiers (IVF, PQ, SQ8, prefix).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from incubator_flink_old_spark.queries import register
from incubator_flink_old_spark.queries._util import t, vec_id_thirds


# --------------------------------------------------------------------------
# Drift-gated coarse-tier retrain: the maintenance loop's recovery path as a
# checked row (the recipe measured in PERF.md "Round 8: drift-triggered
# retrain", registered)
# --------------------------------------------------------------------------

#: Base/delta split — the maintenance family's shared convention.
_D_MOD = 5
_D_REM = 4

#: Drift shift applied to every delta coordinate. 0.375 = 3/8 is exactly
#: representable in binary floating point, so the Spark literal and the
#: DuckDB `CAST(0.375 AS DOUBLE)` are the SAME double and the shifted
#: grid quantization is bit-identical across engines (the fixture's
#: value range is ~[-0.53, 0.46], so 0.375 is a hard drift — a new
#: source whose distribution walked away from the training corpus).
_DRIFT_SHIFT = 0.375

#: Audit thresholds — the policy measured in PERF.md "Round 8: drift-
#: triggered retrain":
#: the delta's mean PQ quantization error vs the base's (the sharp
#: detector: ~1.0x in-distribution, ~9.5x under hard drift, PERF.md
#: round 8), and the maintained index's worst cell-level delta
#: concentration relative to the corpus-wide delta fraction.
_QERR_RATIO_THRESHOLD = 2.0
_CELL_SKEW_THRESHOLD = 3.0
#: Cells smaller than this are excluded from the skew audit: a 3-row
#: cell with 2 delta members reads as 3.3x skew from pure sampling
#: noise. At any real scale cells are millions of rows and this floor
#: is irrelevant; at fixture scale it keeps the no-drift gate honest.
_SKEW_MIN_CELL = 20


def _drift_retrain_df(spark, sf_dir, shift=_DRIFT_SHIFT):
    """Shared body of q_drift_retrain; the law tests call it with
    shift=0.0 to prove the gate does NOT trip in-distribution."""
    from incubator_flink_old_spark.operators.similarity import (
        grid_assign_map,
        grid_ivf,
        grid_pq,
        grid_pq_encode_map,
    )
    from incubator_flink_old_spark.queries.llm_ops11 import (
        _ITERS,
        _N_CELLS,
        _PQ_CENTROIDS,
        _PQ_ITERS,
        _PQ_M,
    )

    emb = t(spark, sf_dir, "embeddings")
    is_base = F.col("vec_id") % _D_MOD != _D_REM
    base = emb.filter(is_base).select("vec_id", "embedding")
    delta = emb.filter(~is_base).select(
        "vec_id",
        F.transform("embedding", lambda x: x + F.lit(shift)).alias(
            "embedding"
        ),
    )
    union = base.unionByName(delta)
    isd = (F.col("vec_id") % _D_MOD == _D_REM).cast("long")

    # Frozen coarse tier + maintained assignment (the absorb path)
    bcells, centers = grid_ivf(base, n_cells=_N_CELLS, iters=_ITERS)
    ma = bcells.select("vec_id", "cell").unionByName(
        grid_assign_map(delta, centers.collect())
    )

    # Audit 1 — cell skew over the maintained assignment: worst
    # per-cell delta fraction (cells above the noise floor) relative to
    # the corpus-wide delta fraction. All-integer counts; the divisions
    # are single correctly-rounded double ops, identical across engines.
    tot = ma.agg(
        F.count(F.lit(1)).alias("n_union"), F.sum(isd).alias("n_delta")
    )
    percell = ma.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n"), F.sum(isd).alias("nd")
    )
    mf = percell.filter(F.col("n") >= _SKEW_MIN_CELL).agg(
        F.max(
            F.col("nd").cast("double") / F.col("n").cast("double")
        ).alias("max_frac")
    )
    # 1-row frame, pinned: the gate's .first() below AND the returned
    # plan both read it — without the checkpoint the whole audit lineage
    # (base train + maintained assignment) would execute twice.
    aud = mf.crossJoin(tot).select(
        (
            F.col("max_frac")
            / (F.col("n_delta").cast("double") / F.col("n_union").cast("double"))
        ).alias("cell_skew")
    ).localCheckpoint(eager=True)

    # Audit 2 — PQ quantization-error drift against FROZEN codebooks
    # (books stay frozen through the whole row: the measured finding is
    # that retraining them under drift is actively harmful — recall
    # 0.21 frozen vs 0.05-0.14 retrained, PERF.md round 8 — the
    # production lever is the coarse tier below).
    _, books = grid_pq(
        base, m=_PQ_M, n_centroids=_PQ_CENTROIDS, iters=_PQ_ITERS
    )
    books_rows = books.collect()  # bounded: m·n_centroids rows
    benc = grid_pq_encode_map(base, books_rows, m=_PQ_M)
    denc = grid_pq_encode_map(delta, books_rows, m=_PQ_M)
    dq = denc.agg(F.sum("qerr").alias("ds"), F.count(F.lit(1)).alias("dn"))
    bq = benc.agg(F.sum("qerr").alias("bs"), F.count(F.lit(1)).alias("bn"))
    # 1-row frame, pinned for the same double-execution reason (its
    # lineage carries the PQ trainer + both frozen-book encodes).
    qr = dq.crossJoin(bq).select(
        (
            (F.col("ds").cast("double") / F.col("dn").cast("double"))
            / (F.col("bs").cast("double") / F.col("bn").cast("double"))
        ).alias("qerr_ratio")
    ).localCheckpoint(eager=True)

    # The GATE: this row exists to check the recovery path, so an
    # un-tripped audit is a broken precondition, not a quiet no-op —
    # fail loudly (the llm_ops26 splice-guard discipline). The law test
    # calls with shift=0.0 and asserts exactly this error.
    audit = aud.crossJoin(qr).first()  # 1-row bound
    skew, ratio = audit["cell_skew"], audit["qerr_ratio"]
    # skew is NULL when no cell clears the noise floor (only possible
    # at sub-fixture scale) — a NULL audit can't justify a retrain.
    tripped = (ratio is not None and ratio > _QERR_RATIO_THRESHOLD) or (
        skew is not None and skew > _CELL_SKEW_THRESHOLD
    )
    if not tripped:
        raise RuntimeError(
            "q_drift_retrain: drift audit did not trip "
            f"(qerr_ratio={ratio} <= {_QERR_RATIO_THRESHOLD}, "
            f"cell_skew={skew} <= {_CELL_SKEW_THRESHOLD}) — the delta "
            "is in-distribution; stay on the flat-cost absorb path "
            "(q_ivf_incremental)"
        )

    # The RECOVERY: retrain the COARSE tier on the union (grid_ivf —
    # Lloyd re-centers the drifted region into its own cells), PQ books
    # untouched. Output = the post-retrain assignment (per-cell union
    # and delta populations) carrying the audit that justified it.
    rcells, _ = grid_ivf(union, n_cells=_N_CELLS, iters=_ITERS)
    return (
        rcells.select("vec_id", "cell")
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_vec"), F.sum(isd).alias("n_delta"))
        .crossJoin(F.broadcast(aud))
        .crossJoin(F.broadcast(qr))
        .select("cell", "n_vec", "n_delta", "cell_skew", "qerr_ratio")
    )


def _drift_retrain_oracle() -> str:
    from incubator_flink_old_spark.queries.llm_ops11 import (
        _PQ_M,
        _PQ_SUB,
        _grid_ivf_ctes,
        _grid_pq_ctes,
        _sql_cos,
        _sql_sqdist,
    )

    base_src = (
        f"(SELECT vec_id, label, embedding FROM embeddings "
        f"WHERE vec_id % {_D_MOD} <> {_D_REM}) base_emb"
    )
    ivf_b, centers_b = _grid_ivf_ctes(src=base_src)
    pq_ctes, books = _grid_pq_ctes(include_e=False)
    union_src = (
        f"(SELECT vec_id, label, embedding FROM embeddings "
        f"WHERE vec_id % {_D_MOD} <> {_D_REM} "
        "UNION ALL "
        "SELECT vec_id, label, "
        "list_transform(embedding::DOUBLE[], "
        f"x -> x + CAST({_DRIFT_SHIFT} AS DOUBLE)) AS embedding "
        f"FROM embeddings WHERE vec_id % {_D_MOD} = {_D_REM}) union_emb"
    )
    ivf_r, _ = _grid_ivf_ctes(src=union_src, prefix="r")
    return f"""
    WITH {ivf_b},
    {pq_ctes},
    de AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                   x -> CAST(FLOOR((x + CAST({_DRIFT_SHIFT} AS DOUBLE))
                                   * 1000000.0) AS BIGINT)) AS k
        FROM embeddings WHERE vec_id % {_D_MOD} = {_D_REM}),
    da AS (
        SELECT vec_id, cell FROM (
            SELECT de.vec_id, c.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY de.vec_id
                       ORDER BY {_sql_cos('de.k', 'c.cv')} DESC, c.cell
                   ) AS rn
            FROM de CROSS JOIN {centers_b} c) t
        WHERE rn = 1),
    ma AS (
        SELECT vec_id, cell FROM af
        UNION ALL
        SELECT vec_id, cell FROM da),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_union,
               CAST(SUM(CASE WHEN vec_id % {_D_MOD} = {_D_REM}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_delta
        FROM ma),
    mf AS (
        SELECT MAX(CAST(nd AS DOUBLE) / CAST(n AS DOUBLE)) AS max_frac
        FROM (
            SELECT cell, COUNT(*) AS n,
                   SUM(CASE WHEN vec_id % {_D_MOD} = {_D_REM}
                            THEN 1 ELSE 0 END) AS nd
            FROM ma GROUP BY cell) pc
        WHERE n >= {_SKEW_MIN_CELL}),
    aud AS (
        SELECT mf.max_frac
               / (CAST(t.n_delta AS DOUBLE) / CAST(t.n_union AS DOUBLE))
               AS cell_skew
        FROM mf, tot t),
    dsubs AS (
        SELECT vec_id, r.j AS j,
               list_slice(k, r.j * {_PQ_SUB} + 1,
                          r.j * {_PQ_SUB} + {_PQ_SUB}) AS sv
        FROM de, range(0, {_PQ_M}) r(j)),
    denc AS (
        SELECT vec_id, j, d FROM (
            SELECT s.vec_id, s.j, {_sql_sqdist('s.sv', 'b.bv')} AS d,
                   ROW_NUMBER() OVER (
                       PARTITION BY s.vec_id, s.j
                       ORDER BY {_sql_sqdist('s.sv', 'b.bv')}, b.cid
                   ) AS rn
            FROM dsubs s JOIN {books} b ON s.j = b.j) t
        WHERE rn = 1),
    benc AS (
        SELECT vec_id, j, d FROM (
            SELECT s.vec_id, s.j, {_sql_sqdist('s.sv', 'b.bv')} AS d,
                   ROW_NUMBER() OVER (
                       PARTITION BY s.vec_id, s.j
                       ORDER BY {_sql_sqdist('s.sv', 'b.bv')}, b.cid
                   ) AS rn
            FROM subs s JOIN {books} b ON s.j = b.j) t
        WHERE rn = 1),
    qr AS (
        SELECT (CAST((SELECT SUM(CAST(d AS BIGINT)) FROM denc) AS DOUBLE)
                / CAST((SELECT COUNT(*) FROM denc) AS DOUBLE))
             / (CAST((SELECT SUM(CAST(d AS BIGINT)) FROM benc) AS DOUBLE)
                / CAST((SELECT COUNT(*) FROM benc) AS DOUBLE))
               AS qerr_ratio),
    {ivf_r}
    SELECT r.cell, CAST(COUNT(*) AS BIGINT) AS n_vec,
           CAST(SUM(CASE WHEN r.vec_id % {_D_MOD} = {_D_REM}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
           aud.cell_skew AS cell_skew, qr.qerr_ratio AS qerr_ratio
    FROM raf r CROSS JOIN aud CROSS JOIN qr
    GROUP BY r.cell, aud.cell_skew, qr.qerr_ratio
    """


@register("q_drift_retrain", oracle=_drift_retrain_oracle())
def q_drift_retrain(spark, sf_dir):
    """DRIFT-GATED COARSE-TIER RETRAIN — the maintenance loop's recovery
    path as a driver-checked row (VERDICT r08 item 1; the operational
    recipe PERF.md "Round 8: drift-triggered retrain" measured, now a checked
    artifact): a deliberately-drifted delta (every coordinate shifted by
    the exact constant 3/8) is absorbed by the FROZEN base index; the
    row reads the SAME audits the maintenance rows emit — the PQ
    quantization-error ratio against frozen codebooks
    (q_pq_incremental's qerr, measured a sharp detector: ~1.0x
    in-distribution vs ~9.5x under hard drift) and the maintained
    assignment's cell-level delta concentration (q_ivf_incremental's
    frac_delta) — trips the documented thresholds, and RETRAINS THE
    COARSE TIER ONLY (grid_ivf on the union; PQ books stay frozen — the
    round-8 measured finding that fixed-capacity codebook retrain is
    actively harmful, 0.21 → 0.05-0.14 recall, while the coarse retrain
    recovers 0.77 → 1.00). An un-tripped audit raises (fail-loudly
    gate); the law test proves shift=0 does NOT trip.

    Output: the post-retrain assignment (per-cell union and delta
    populations — Lloyd giving the drifted region its own cells is
    visible as delta-dominated cells) carrying the audit values that
    justified the retrain. Cross-engine: the oracle replays BOTH Lloyd
    chains (frozen base train + union retrain, namespaced CTEs), the PQ
    trainer, and the exact-integer audits value-exactly; the two audit
    ratios are fixed-shape chains of correctly-rounded double ops over
    exact integers.

    Scale: the absorb path stays flat-cost (broadcast maps over the
    delta); the retrain is the ONE corpus-cost operation and this row
    is the artifact that says WHEN it's justified — at 100 TB the gate
    reads digest-sized audits (n_cells rows + two scalars) and the
    retrain reuses grid_ivf's posture (broadcast centers, d·n_cells
    partial aggregates, corpus never shuffles)."""
    return _drift_retrain_df(spark, sf_dir)


# --------------------------------------------------------------------------
# Streaming end-to-end retrieval lifecycle: deltas absorbed THROUGH STREAMS,
# then the hybrid query serves over base ∪ streamed-absorbed state
# --------------------------------------------------------------------------


def _stream_lifecycle_oracle() -> str:
    # The streamed absorption is value-identical to the batch absorb
    # (map ≡ join-form laws, test_wave42.py), so the oracle IS the batch
    # lifecycle's — one oracle, two execution paths, the strongest
    # parity statement the driver can check.
    from incubator_flink_old_spark.queries.llm_ops27 import _lifecycle_oracle

    return _lifecycle_oracle()


@register("q_stream_lifecycle_parity", oracle=_stream_lifecycle_oracle())
def q_stream_lifecycle_parity(spark, sf_dir):
    """STREAMING END-TO-END RETRIEVAL LIFECYCLE (VERDICT r08 item 2):
    q_retrieval_lifecycle's production recipe with the delta absorbed
    THROUGH REAL MULTI-BATCH STREAMS instead of batch joins — new
    vectors arrive as a 3-file replay and land (a) in their IVF cells
    through grid_assign_map and (b) as clamped SQ8 codes through
    sq8_encode_map, both pure maps against the frozen base artifacts
    (literal index tables in the plan: no join, no window, no state);
    the hybrid serve (BM25 ∪ probed SQ8 code scan → refine → exact
    rerank) then runs over base ∪ the STREAMED-ABSORBED state, with the
    BM25 arm riding the digest merge (merge_bm25_stats) exactly as the
    batch row. The oracle is the batch lifecycle's oracle VERBATIM —
    the row hash-proves stream-absorbed serving ≡ batch-absorbed
    serving, which is the deployment claim: a live feed keeps the index
    continuously fresh and queries never see a difference.

    Scale: ingest-side cost is two stateless maps per micro-batch
    (ingest-throughput absorption); serve-side is q_retrieval_hybrid's
    posture unchanged (broadcast probes, partition-pruned code scan,
    TakeOrdered tails)."""
    from incubator_flink_old_spark.operators.retrieval import (
        bm25_index_stats,
        bm25_topk,
        merge_bm25_stats,
    )
    from incubator_flink_old_spark.operators.similarity import (
        grid_assign_map,
        grid_ivf,
        sq8_encode_map,
    )
    from incubator_flink_old_spark.queries.llm_ops11 import _ITERS, _N_CELLS
    from incubator_flink_old_spark.queries.llm_ops18 import (
        _SQ_LEVELS,
        _TS_CANDIDATES,
        _TS_TERMS,
        _grid_vec,
        _sq_bounds,
        _sq_codes,
    )
    from incubator_flink_old_spark.queries.llm_ops26 import _hybrid_topk
    from incubator_flink_old_spark.streaming import replay_source, stream_result

    emb = t(spark, sf_dir, "embeddings")
    docs = t(spark, sf_dir, "documents")
    is_base = F.col("vec_id") % _D_MOD != _D_REM
    base = emb.filter(is_base)

    # Frozen base artifacts (trained once, amortized across the stream)
    bcells, centers = grid_ivf(base, n_cells=_N_CELLS, iters=_ITERS)
    center_rows = centers.collect()  # n_cells rows — bounded by design
    fbounds = _sq_bounds(base.select("vec_id", _grid_vec().alias("k")))
    bounds_rows = fbounds.collect()  # 64 rows — bounded by design

    # The delta arrives as a REAL multi-batch stream; each replay runs
    # one pure-map encoder (same source files, two landing tables).
    delta = emb.filter(~is_base).select("vec_id", "embedding")
    with replay_source(
        b.repartition(1) for b in vec_id_thirds(delta)
    ) as stream:
        assigned = stream_result(
            grid_assign_map(stream, center_rows),
            "append",
            state_partitions=None,
        )
        codes = stream_result(
            sq8_encode_map(stream, bounds_rows, levels=_SQ_LEVELS),
            "append",
            state_partitions=None,
        )

    # IVF maintained: base cells ∪ the STREAMED assignments
    mcells = bcells.select("vec_id", "cell").unionByName(
        assigned.select("vec_id", "cell")
    )
    # SQ8 maintained: base encode (frozen bounds; encoding is per-row
    # pure, so base-encode ∪ delta-encode ≡ the batch row's one union
    # encode) ∪ the STREAMED per-dim codes reassembled into code arrays
    # (the same collect_list shape _sq_codes emits).
    base_codes = _sq_codes(
        base.select("vec_id", _grid_vec().alias("k")),
        bounds=fbounds,
        clamp=True,
    )
    delta_codes = (
        codes.groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "c"))),
                lambda s: s.getField("c").cast("double"),
            ).alias("code")
        )
    )
    fcodes = base_codes.unionByName(delta_codes)

    # BM25 maintained: per-source digests merged (integer-exact)
    is_dbase = F.col("doc_id") % _D_MOD != _D_REM
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
# Multi-query BM25 + rank-aware retrieval evaluation (the parked gap: every
# prior retrieval row is single-query; MRR/recall need a query BATCH)
# --------------------------------------------------------------------------

#: The literal evaluation query set: the family's fixed terms, a wider
#: set, the one RARE fixture token ('dup', df≈26 vs ≈900 for the rest),
#: a two-term set, and a set containing a term NO document contains
#: (exercises the missing-dft path: it contributes no score rows).
_MQ_QUERIES: tuple[tuple[int, tuple[str, ...]], ...] = (
    (0, ("hash", "join", "scan")),
    (1, ("sort", "stream", "vector", "window")),
    (2, ("dup",)),
    (3, ("customer", "order")),
    (4, ("filter", "nosuchterm")),
)
_MQ_TOPK = 10

#: BM25 scoring CTE chain shared by both multi-query oracles: from a
#: ``q`` CTE of (q_id, w) rows to ``ranked`` (q_id, doc_id, bm25, rnk).
_MQ_SQL_TAIL = r"""
    tk AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> x <> '')) AS w
        FROM documents),
    tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tk GROUP BY doc_id, w),
    dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
    sc AS (SELECT (SELECT COUNT(*) FROM documents) AS n,
                  CAST((SELECT COUNT(*) FROM tk) AS DOUBLE)
                      / (SELECT COUNT(*) FROM documents) AS avgdl),
    dft AS (SELECT w, COUNT(*) AS dft FROM tf
            WHERE w IN (SELECT DISTINCT w FROM q) GROUP BY w),
    s AS (
        SELECT q.q_id, tf.doc_id, tf.w,
               LN((sc.n - dft.dft + 0.5) / (dft.dft + 0.5) + 1.0)
               * (tf.tf * 2.2
                  / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / sc.avgdl)))
                   AS s
        FROM q JOIN tf USING (w) JOIN dl USING (doc_id)
        JOIN dft USING (w) CROSS JOIN sc),
    per AS (
        SELECT q_id, doc_id,
               ROUND(list_aggregate(list(s ORDER BY w), 'sum'), 6) AS bm25
        FROM s GROUP BY q_id, doc_id),
    ranked AS (
        SELECT q_id, doc_id, bm25, CAST(rnk AS INT) AS rnk FROM (
            SELECT q_id, doc_id, bm25,
                   ROW_NUMBER() OVER (
                       PARTITION BY q_id ORDER BY bm25 DESC, doc_id) AS rnk
            FROM per) t)"""


def _mq_oracle() -> str:
    values = ", ".join(
        "({}, [{}])".format(q, ", ".join(f"'{w}'" for w in ts))
        for q, ts in _MQ_QUERIES
    )
    return f"""
    WITH q AS (
        SELECT CAST(q_id AS BIGINT) AS q_id, unnest(terms) AS w
        FROM (VALUES {values}) t(q_id, terms)),
    {_MQ_SQL_TAIL}
    SELECT q_id, doc_id, bm25, rnk FROM ranked WHERE rnk <= {_MQ_TOPK}
    """


@register("q_bm25_multi_query", oracle=_mq_oracle())
def q_bm25_multi_query(spark, sf_dir):
    """BATCH-OF-QUERIES BM25 (operators/retrieval.bm25_multi_topk) —
    the multi-query harness the single-query rows can't express: five
    query term sets (the family terms, a wide set, the one rare fixture
    token, a pair, and a set with a term no document contains) are
    scored against the corpus in ONE term-keyed pass; per-(query, doc)
    sums fold over matched terms SORTED BY TERM, so the float addition
    order is a pure function of the term set and both engines round the
    same 6dp value (bm25_topk's fixed-order discipline generalized).
    Law (tests/test_wave43.py): a single-query batch reproduces
    bm25_topk's ranking exactly.

    Scale: the corpus tokenizes once for the whole query batch; scores
    ride term-keyed digest joins and per-query TakeOrdered windows —
    this is how an index evaluation (hundreds of queries) runs as one
    job instead of hundreds."""
    from incubator_flink_old_spark.operators.retrieval import bm25_multi_topk
    from incubator_flink_old_spark.sources import local_rows

    queries = local_rows(
        spark,
        [(int(q), list(ts)) for q, ts in _MQ_QUERIES],
        "q_id bigint, terms array<string>",
    )
    return bm25_multi_topk(
        t(spark, sf_dir, "documents"), queries, top_k=_MQ_TOPK
    )


_EVAL_N_QUERIES = 10
_EVAL_N_TERMS = 3


def _eval_mrr_oracle() -> str:
    return f"""
    WITH qtf AS (
        SELECT doc_id AS q_id, w, COUNT(*) AS c FROM (
            SELECT doc_id,
                   unnest(list_filter(
                       string_split_regex(lower(text), '\\s+'),
                       x -> x <> '')) AS w
            FROM documents WHERE doc_id < {_EVAL_N_QUERIES}) t
        GROUP BY q_id, w),
    q AS (
        SELECT q_id, w FROM (
            SELECT q_id, w,
                   ROW_NUMBER() OVER (
                       PARTITION BY q_id ORDER BY c DESC, w) AS tr
            FROM qtf) t
        WHERE tr <= {_EVAL_N_TERMS}),
    {_MQ_SQL_TAIL}
    SELECT q.q_id, COALESCE(r.rnk, 0) AS self_rank,
           COALESCE(1.0 / r.rnk, 0.0) AS rr
    FROM (SELECT DISTINCT q_id FROM q) q
    LEFT JOIN (SELECT q_id, rnk FROM ranked
               WHERE doc_id = q_id AND rnk <= {_MQ_TOPK}) r
        ON q.q_id = r.q_id
    """


@register("q_retrieval_eval_mrr", oracle=_eval_mrr_oracle())
def q_retrieval_eval_mrr(spark, sf_dir):
    """RANK-AWARE retrieval evaluation over the multi-query harness —
    the known-item protocol: each of the first {10} documents becomes a
    query (its top-3 tokens by frequency, ties to the smaller token),
    the whole batch is BM25-ranked in one bm25_multi_topk job, and each
    query reports the rank of its OWN source document in its top-10
    (self_rank, 0 = missed) and the reciprocal rank 1/r — the per-query
    rows an MRR@10 averages. Per-query RR is an exact division of 1.0
    by a small integer, bit-identical across engines; the term
    extraction and ranking replay value-exactly in SQL.

    This closes the parked gap every prior retrieval row shared: recall
    rows measure ANN candidate quality against brute force, but nothing
    measured RANKING quality over a query batch — the evaluation loop
    an index deployment actually runs (swap an index variant, re-run
    the eval batch, compare MRR).

    Scale: queries are a digest-sized side input; everything corpus-
    shaped is shared across the batch (one tokenization, term-keyed
    joins), so eval cost grows with the query batch, not
    queries × corpus."""
    from pyspark.sql import Window

    from incubator_flink_old_spark.operators.retrieval import bm25_multi_topk
    from incubator_flink_old_spark.operators.text import tokens

    docs = t(spark, sf_dir, "documents")
    qtf = (
        docs.filter(F.col("doc_id") < _EVAL_N_QUERIES)
        .select(F.col("doc_id").alias("q_id"), F.explode(tokens("text")).alias("w"))
        .groupBy("q_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wt = Window.partitionBy("q_id").orderBy(F.col("c").desc(), "w")
    queries = (
        qtf.withColumn("tr", F.row_number().over(wt))
        .filter(F.col("tr") <= _EVAL_N_TERMS)
        .groupBy("q_id")
        .agg(F.array_sort(F.collect_list("w")).alias("terms"))
    )
    ranked = bm25_multi_topk(docs, queries, top_k=_MQ_TOPK)
    self_hit = ranked.filter(F.col("doc_id") == F.col("q_id")).select(
        "q_id", "rnk"
    )
    return (
        queries.select("q_id")
        .join(self_hit, on="q_id", how="left")
        .select(
            "q_id",
            F.coalesce("rnk", F.lit(0)).alias("self_rank"),
            F.coalesce(F.lit(1.0) / F.col("rnk"), F.lit(0.0)).alias("rr"),
        )
    )


# --------------------------------------------------------------------------
# Streaming near-dup screening: the crawl-ingest front door — live documents
# screened against the frozen corpus band index
# --------------------------------------------------------------------------

_NDS_HASHES = 8
_NDS_BAND = 4
_NDS_THRESHOLD = 0.7


def _stream_neardup_oracle(
    new_pred: str | None = None, scope_pred: str | None = None
) -> str:
    """``new_pred`` overrides the stream/corpus split predicate;
    ``scope_pred`` restricts which documents participate at all (the
    ingest-lifecycle oracle screens wave 2 against corpus ∪ admitted
    wave 1). Defaults render the exact pre-parameterization string."""
    new_pred = new_pred or f"doc_id % {_D_MOD} = {_D_REM}"
    scope = f"\n        WHERE {scope_pred}" if scope_pred else ""
    mh_exprs = ",\n               ".join(
        f"list_aggregate(list_transform(tk, x -> md5('{j}|' || x)), 'min')"
        f" AS mh{j}"
        for j in range(_NDS_HASHES)
    )
    n_bands = _NDS_HASHES // _NDS_BAND
    band_selects = "\n        UNION ALL\n        ".join(
        "SELECT doc_id, is_new, {b} AS band, md5({expr}) AS bucket"
        " FROM sigs".format(
            b=b,
            expr=" || '|' || ".join(
                f"mh{b * _NDS_BAND + r}" for r in range(_NDS_BAND)
            ),
        )
        for b in range(n_bands)
    )
    return rf"""
    WITH base AS (
        SELECT doc_id, text, {new_pred} AS is_new
        FROM documents{scope}),
    toks AS (
        SELECT doc_id, is_new,
               list_distinct(list_filter(
                   string_split_regex(lower(text), '\s+'), x -> x <> ''
               )) AS tk
        FROM base),
    sigs AS (
        SELECT doc_id, is_new, tk,
               {mh_exprs}
        FROM toks),
    bands AS (
        {band_selects}
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
        WHERE a.is_new AND NOT b.is_new)
    SELECT doc_a, doc_b, jaccard FROM (
        SELECT c.doc_a, c.doc_b,
               CAST(len(list_intersect(ta.tk, tb.tk)) AS DOUBLE)
                   / len(list_distinct(list_concat(ta.tk, tb.tk))) AS jaccard
        FROM cands c
        JOIN toks ta ON c.doc_a = ta.doc_id
        JOIN toks tb ON c.doc_b = tb.doc_id) v
    WHERE jaccard >= {_NDS_THRESHOLD}
    """


@register("q_stream_neardup_screen_parity", oracle=_stream_neardup_oracle())
def q_stream_neardup_screen_parity(spark, sf_dir):
    """STREAMING NEAR-DUP SCREENING ⇄ batch parity — the crawl-ingest
    front door as a checked row (operators/text.streaming_neardup_screen):
    new documents arrive as a REAL 4-file multi-batch stream, each
    computes its MinHash signatures + band buckets in one map-side
    projection and probes the FROZEN corpus band index through a
    stream-static equi-join, with the exact-jaccard verify emitting
    (new doc, corpus dup, jaccard) pairs. The batch twin is
    minhash_lsh_pairs_between (q_incremental_dedup's near arm); each
    pair's verdict depends only on its own two token sets, so streaming
    ≡ batch whatever the boundaries, and the oracle replays signatures,
    banding and verify in SQL with no stream and no prefilter (the
    size-ratio bound is result-identical by the jaccard inequality).

    Scale: at 100 TB the corpus side is the materialized
    (band, bucket)-bucketed table (q_dedup_minhash_layout) — the probe
    join is zero-exchange on the corpus side and each micro-batch costs
    O(batch candidates); dedup state is one row per emitted pair
    (stream docs arrive once, so pairs never recur)."""
    from incubator_flink_old_spark.operators.text import (
        streaming_neardup_screen,
    )
    from incubator_flink_old_spark.session import staged
    from incubator_flink_old_spark.streaming import replay_source, stream_result

    docs = t(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % _D_MOD == _D_REM
    corpus = docs.filter(~is_new)
    with staged() as st, replay_source(
        [docs.filter(is_new).select("doc_id", "text").repartition(4)]
    ) as stream:
        out = streaming_neardup_screen(
            stream,
            corpus,
            num_hashes=_NDS_HASHES,
            band_size=_NDS_BAND,
            jaccard_threshold=_NDS_THRESHOLD,
            stage=st,
        )
        tbl = stream_result(out, "append", state_partitions=4)
    return tbl.select("doc_a", "doc_b", "jaccard")


# --------------------------------------------------------------------------
# Streaming drift audit: the retrain gate's detector maintained LIVE
# --------------------------------------------------------------------------


def _stream_drift_audit_oracle() -> str:
    from incubator_flink_old_spark.queries.llm_ops27 import (
        _pq_incremental_oracle,
    )

    # The audit maintained live must equal the batch audit exactly —
    # same oracle as q_pq_incremental, no stream in sight.
    return _pq_incremental_oracle()


@register("q_stream_drift_audit_parity", oracle=_stream_drift_audit_oracle())
def q_stream_drift_audit_parity(spark, sf_dir):
    """The DRIFT DETECTOR maintained continuously — the missing link
    between the streaming encoders and the retrain gate: delta vectors
    arrive as a REAL multi-batch stream, each emits its m codes + exact
    integer qerr through grid_pq_encode_map (the pure-map frozen-book
    encode), and ONE streaming aggregation keyed by (subspace, code)
    sums the per-(j, code) delta counts and quantization-error totals —
    q_pq_incremental's audit table, live. Integer sums are a
    commutative monoid, so the final state is bit-identical to the
    batch audit whatever the microbatch boundaries; the oracle IS
    q_pq_incremental's (base-trained codebooks + delta encode replayed
    in SQL, no stream in sight). Downstream, q_drift_retrain's gate
    reads exactly these columns — with this row the whole loop
    (absorb → audit → trip → coarse retrain) exists in both batch and
    streaming forms, every stage driver-checked.

    Scale: state is ≤ m·n_centroids rows of longs forever (32 here); a
    live embedding feed keeps the retrain trigger's input fresh at
    ingest throughput instead of waiting for a batch audit job."""
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
    is_base = F.col("vec_id") % _D_MOD != _D_REM
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
        audit = (
            grid_pq_encode_map(stream, book_rows, m=_PQ_M)
            .groupBy("j", "code")
            .agg(
                F.count(F.lit(1)).alias("n_delta"),
                F.sum("qerr").alias("qerr"),
            )
        )
        out = stream_result(audit, "complete", state_partitions=4)
    return out.select("j", "code", "n_delta", "qerr")


# --------------------------------------------------------------------------
# Streaming prefix encoding: the dimension-truncated tier's absorption row —
# the last empty cell of the tier × maintenance matrix
# --------------------------------------------------------------------------


def _stream_bm25_oracle() -> str:
    from incubator_flink_old_spark.queries.llm_ops18 import _bm25_ctes

    # The claim is that LIVE-maintained statistics rank identically to a
    # full recompute, so the strongest oracle is the plain non-streaming
    # BM25 over the whole corpus (the q_bm25_incremental discipline).
    return f"""
    WITH {_bm25_ctes(n_candidates=20)}
    SELECT doc_id, bm25 FROM cand
    """


@register("q_stream_bm25_stats_parity", oracle=_stream_bm25_oracle())
def q_stream_bm25_stats_parity(spark, sf_dir):
    """STREAMING BM25 statistics ⇄ batch parity — the LEXICAL tier's
    streaming absorption, closing the maintenance matrix's streaming
    dimension for every index family (IVF r07; PQ + SQ8 r08; prefix
    r09; BM25 here): documents arrive as a REAL 4-file multi-batch
    stream and the corpus statistics (doc count, token count, per-term
    document frequency) are maintained continuously by
    operators/retrieval.streaming_bm25_stats — map-side per-doc digest
    rows summed by ONE streaming global aggregate whose state is a
    single row of longs. Sums are a commutative monoid, so the final
    state is bit-identical to bm25_index_stats over the whole corpus
    whatever the batch boundaries (law-pinned in tests/test_wave43.py);
    the row then injects the LIVE stats into the shipped scorer
    (bm25_topk(index_stats=...)) and ranks the corpus — hash-checked
    against a plain full recompute, no stream in sight (the
    q_bm25_incremental oracle discipline, one level stronger: the stats
    were never computed batch-side at all).

    Scale: the live lexical index's statistics cost one row of state
    and a digest-sized combine per micro-batch; per-doc postings land
    beside it as map-only writes (they never cross documents). Queries
    read a continuously-fresh 1-row broadcast."""
    from incubator_flink_old_spark.operators.retrieval import (
        bm25_topk,
        streaming_bm25_stats,
    )
    from incubator_flink_old_spark.queries.llm_ops18 import _TS_TERMS
    from incubator_flink_old_spark.streaming import replay_source, stream_result

    docs = t(spark, sf_dir, "documents")
    with replay_source(
        [docs.select("doc_id", "text").repartition(4)]
    ) as stream:
        stats_row = stream_result(
            streaming_bm25_stats(stream, _TS_TERMS),
            "complete",
            state_partitions=4,
        )

    # Reassemble the (scalars, dft) pair the scorer injects: avgdl from
    # the landed longs (merge_bm25_stats' division shape and its n=0
    # fail-loudly guard), dft rows for terms that actually occur.
    scalars = stats_row.select(
        "n",
        F.when(F.col("n") > 0, F.col("toks").cast("double") / F.col("n"))
        .otherwise(
            F.raise_error(
                F.lit("q_stream_bm25_stats_parity: streamed corpus is empty")
            )
        )
        .alias("avgdl"),
    )
    dft = (
        stats_row.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(w).alias("w"),
                            F.col(f"dft_{i}").alias("dft"),
                        )
                        for i, w in enumerate(_TS_TERMS)
                    ]
                )
            ).alias("td")
        )
        .select(F.col("td.w").alias("w"), F.col("td.dft").alias("dft"))
        .filter(F.col("dft") > 0)
    )
    return bm25_topk(docs, terms=_TS_TERMS, index_stats=(scalars, dft))


def _stream_prefix_oracle() -> str:
    from incubator_flink_old_spark.queries.llm_ops27 import _MRL_DIM

    return f"""
    SELECT vec_id, CAST(r.p AS INTEGER) AS p, k[r.p] AS v
    FROM (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(FLOOR(x * 1000000.0) AS BIGINT)) AS k
        FROM embeddings
        WHERE vec_id % {_D_MOD} = {_D_REM}) d,
        range(1, {_MRL_DIM + 1}) r(p)
    """


@register("q_stream_prefix_encode_parity", oracle=_stream_prefix_oracle())
def q_stream_prefix_encode_parity(spark, sf_dir):
    """STREAMING PREFIX (Matryoshka) encoding ⇄ batch parity — the
    fourth and last tier of the maintenance matrix's streaming
    dimension (IVF: q_stream_ivf_assign_parity, PQ:
    q_stream_pq_encode_parity, SQ8: q_stream_sq8_encode_parity;
    VERDICT r08 item 3): delta vectors arrive as a REAL multi-batch
    stream and each emits its 16-dim stage-A artifact through
    operators/similarity.prefix_encode_map — the tier's "index" is just
    the projection rule, so this is the cheapest absorption of the
    family (a guarded slice; no broadcast table at all). The landed
    artifacts are exactly what q_ann_recall_prefix's stage-A scan ranks
    over; the readback posexplodes them to per-dim rows so the oracle
    is a pure list_slice replay (exact integers end to end).

    Scale: per micro-batch cost is a stateless slice — a live embedding
    feed lands its 4x-truncated stage-A column at ingest throughput,
    completing the tier × {{batch absorb, streaming absorb, drift
    audit}} matrix on every axis."""
    from incubator_flink_old_spark.operators.similarity import (
        prefix_encode_map,
    )
    from incubator_flink_old_spark.queries.llm_ops27 import _MRL_DIM
    from incubator_flink_old_spark.streaming import replay_source, stream_result

    emb = t(spark, sf_dir, "embeddings")
    delta = emb.filter(F.col("vec_id") % _D_MOD == _D_REM).select(
        "vec_id", "embedding"
    )
    with replay_source(
        b.repartition(1) for b in vec_id_thirds(delta)
    ) as stream:
        out = stream_result(
            prefix_encode_map(stream, prefix=_MRL_DIM),
            "append",
            state_partitions=None,
        )
    return (
        out
        .select("vec_id", F.posexplode("pk").alias("p0", "v"))
        .select("vec_id", (F.col("p0") + 1).alias("p"), "v")
    )
