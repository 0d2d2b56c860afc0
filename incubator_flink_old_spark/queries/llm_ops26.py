"""Training-data pipeline queries, wave 41 (round 7, VERDICT r06 item
5): HYBRID retrieval — the two-stage lexical rerank's dense stage wired
to the IVF index, the deployment consequence the round-6 candidate-count
sweep priced (PERF.md r06: fixed-N lexical pruning loses dense recall as
the corpus grows; "the dense stage needs its own index instead of riding
stage-1 pruning"). Stage 1 prunes lexically (BM25 top-N), stage 2
retrieves dense candidates from the PRF vector's probed IVF cells, the
union is reranked by exact integer dense score.

Plus the ANN matrix's REFINE tier: IVF+SQ8 shortlist re-ranked at full
precision — the standard production recipe's last step (quantization
error removed for the shortlist at the cost of refine_c full-precision
reads per query).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from incubator_flink_old_spark.queries import register
from incubator_flink_old_spark.queries._util import t, vec_id_thirds

#: Dense candidates retrieved from the probed IVF cells — the second
#: arm of the hybrid union, sized like the lexical arm so neither stage
#: dominates the candidate budget.
_HY_DENSE = 50

#: SQ8 code-rank shortlist kept for the dense arm's full-precision
#: refine — 4x the dense budget, the refine family's ratio (_REFINE_C =
#: 4x _TOPK). Stage A ranks the probed pool over int8 CODES (8x less IO
#: than the double grid); only these rows are re-read at full precision.
_HY_REFINE = 4 * _HY_DENSE


def _hybrid_oracle() -> str:
    from incubator_flink_old_spark.queries.llm_ops11 import (
        _DIM,
        _N_PROBE,
        _grid_ivf_ctes,
        _sql_cos,
    )
    from incubator_flink_old_spark.queries.llm_ops18 import (
        _TS_FEEDBACK,
        _TS_FINAL,
        _bm25_ctes,
        _sq_ctes,
    )

    ivf_ctes, last_centers = _grid_ivf_ctes()

    def _dot(a: str, b: str) -> str:
        return (
            f"list_dot_product(list_transform({a}, x -> CAST(x AS DOUBLE)),"
            f" list_transform({b}, x -> CAST(x AS DOUBLE)))"
        )

    return f"""
    WITH {ivf_ctes},
    {_sq_ctes()},
    {_bm25_ctes()},
    fb AS (
        SELECT doc_id FROM cand ORDER BY bm25 DESC, doc_id
        LIMIT {_TS_FEEDBACK}),
    qv AS (
        SELECT r.p AS p, SUM(e.k[r.p]) AS v
        FROM fb JOIN e ON fb.doc_id = e.vec_id, range(1, {_DIM + 1}) r(p)
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
        FROM qv q JOIN mm m ON q.p = m.p),
    adc AS (
        SELECT a.vec_id, SUM(CAST(d.c AS BIGINT) * w.w) AS s
        FROM pr JOIN af a ON pr.cell = a.cell
        JOIN qd d ON d.vec_id = a.vec_id
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
            FROM sh s2 JOIN e e2 ON s2.vec_id = e2.vec_id
            CROSS JOIN qvec q) t
        WHERE rn <= {_HY_DENSE}),
    uc AS (
        SELECT COALESCE(c.doc_id, d.doc_id) AS doc_id,
               COALESCE(c.bm25, 0.0) AS bm25
        FROM cand c FULL OUTER JOIN dc d ON c.doc_id = d.doc_id),
    scored AS (
        SELECT u.doc_id, u.bm25,
               CAST({_dot('q.qk', 'e.k')} AS BIGINT) AS dense_ip
        FROM uc u JOIN e ON u.doc_id = e.vec_id CROSS JOIN qvec q)
    SELECT doc_id, bm25, dense_ip
    FROM scored
    ORDER BY dense_ip DESC, doc_id
    LIMIT {_TS_FINAL}
    """


def _hy_code_shortlist(pool, codes_df, bounds, qvec, dense_refine: int):
    """Stage A of the hybrid dense arm: rank the probed ``pool``
    (vec_id) over SQ8 CODES and keep the ``dense_refine`` shortlist —
    the only corpus-shaped read, at 8x fewer bytes than the double
    grid. The ranking key is the asymmetric-distance (ADC) score with
    its rank-invariant parts dropped: for decode(c) = lo + (c+0.5)·
    (hi−lo)/L,  dot(q, decode(code)) = const + (Σ_p q_p·(hi_p−lo_p)·
    c_p)/L — so ranking by the integer Σ q_p·(hi_p−lo_p)·c_p is
    EXACTLY the ADC ranking, computed in int64 on both engines (the
    double fold would lose exactness past 2^53; see dot_long)."""
    from incubator_flink_old_spark.operators.similarity import dot_long

    darr = bounds.agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct("p", (F.col("hi") - F.col("lo")).alias("d"))
                )
            ),
            lambda s: s.getField("d"),
        ).alias("darr")
    )
    wv = (
        F.broadcast(qvec)
        .crossJoin(F.broadcast(darr))
        .select(
            F.zip_with(
                "qk", "darr", lambda q, d: q.cast("long") * d
            ).alias("w")
        )
    )
    return (
        pool.join(codes_df, on="vec_id")
        .crossJoin(F.broadcast(wv))
        .select(
            "vec_id",
            dot_long(
                F.col("w"), F.transform("code", lambda c: c.cast("long"))
            ).alias("__adc"),
        )
        .orderBy(F.col("__adc").desc(), "vec_id")
        .limit(dense_refine)
        .select("vec_id")
    )


def _hybrid_topk(
    docs,
    emb,
    n_candidates: int | None = None,
    dense_n: int = _HY_DENSE,
    n_probe: int | None = None,
    final_k: int | None = None,
    cand=None,
    index=None,
    dense_refine: int = _HY_REFINE,
    dense_via_codes: bool = True,
    codes=None,
):
    """Shared hybrid body (BM25 top-``n_candidates`` ∪ IVF-probed dense
    top-``dense_n`` → exact dense rerank → top-``final_k``), factored so
    the candidate sweep and the law tests measure the SHIPPED algorithm.
    ``cand`` overrides stage 1 with an explicit (doc_id, bm25) frame;
    ``n_probe`` widened to n_cells makes the dense arm an unpruned scan
    (the all-cells composition law). ``index`` injects a PREBUILT
    (cells, centers) pair — in production the IVF index is a table
    maintained by grid_assign_map deltas (q_ivf_incremental), amortized
    across every query, not rebuilt per query; None retrains inline
    (the self-contained driver-row form). ``codes`` likewise injects a
    prebuilt (codes_df, bounds) SQ8 pair (maintained by
    q_sq8_incremental's frozen-bounds delta encode).

    Dense arm (VERDICT r07 item 3): the probed pool is ranked over SQ8
    codes (:func:`_hy_code_shortlist` — 8x less IO than the double
    grid) and only the ``dense_refine`` shortlist is re-read at full
    precision for the exact top-``dense_n`` cut. ``dense_refine`` ≥
    pool makes the arm provably identical to the full-precision form
    (law-pinned); ``dense_via_codes=False`` keeps that full-precision
    form for the law tests."""
    from incubator_flink_old_spark.operators.retrieval import bm25_topk
    from incubator_flink_old_spark.operators.similarity import (
        as_double_array,
        cosine_safe,
        dot,
        grid_ivf,
    )
    from incubator_flink_old_spark.queries.llm_ops11 import (
        _ITERS,
        _N_CELLS,
        _N_PROBE,
    )
    from incubator_flink_old_spark.queries.llm_ops18 import (
        _TS_CANDIDATES,
        _TS_FINAL,
        _TS_TERMS,
        _grid_vec,
        _prf_qvec,
        _sq_bounds,
        _sq_codes,
    )

    n_candidates = _TS_CANDIDATES if n_candidates is None else n_candidates
    n_probe = _N_PROBE if n_probe is None else n_probe
    final_k = _TS_FINAL if final_k is None else final_k

    if cand is None:
        cand = bm25_topk(docs, terms=_TS_TERMS, top_k=n_candidates)
    # |n_candidates| rows by construction — pin so stage 1 runs once,
    # not once per consumer (PRF vector, union, final bm25 column).
    cand = cand.localCheckpoint(eager=True)

    eg = emb.select("vec_id", _grid_vec().alias("k"))
    qvec = _prf_qvec(cand, eg)

    # Dense arm: probe the PRF vector's nearest cells, rank ONLY the
    # probed-cell vectors — over SQ8 codes, full precision only for the
    # refine shortlist. One 1-row broadcast (qvec) × one n_cells-row
    # broadcast (centers) picks the cells; the pool is reached through
    # an equi-join on cell, so at 100 TB the code scan is
    # partition-pruned under the by-cell layout
    # (q_ann_recall_ivf_layout's posture) and the TakeOrdered tails
    # merge per-partition top-k — never a global window.
    cells, centers = (
        grid_ivf(emb, n_cells=_N_CELLS, iters=_ITERS)
        if index is None
        else index
    )
    probes = (
        F.broadcast(qvec)
        .crossJoin(F.broadcast(centers))
        .select(
            "cell",
            cosine_safe(F.col("qk"), as_double_array("cv")).alias("__sim"),
        )
        .orderBy(F.col("__sim").desc(), "cell")
        .limit(n_probe)
        .select("cell")
    )
    kd = F.transform("k", lambda x: x.cast("double"))
    pool = F.broadcast(probes).join(cells, on="cell").select("vec_id")
    if dense_via_codes:
        if codes is None:
            bounds = _sq_bounds(eg)
            codes_df = _sq_codes(eg, bounds=bounds)
        else:
            codes_df, bounds = codes
        pool = _hy_code_shortlist(pool, codes_df, bounds, qvec, dense_refine)
    dense_cand = (
        pool.join(eg, on="vec_id")
        .crossJoin(F.broadcast(qvec))
        .select(
            F.col("vec_id").alias("doc_id"),
            dot(F.col("qk"), kd).alias("__ip"),
        )
        .orderBy(F.col("__ip").desc(), "doc_id")
        .limit(dense_n)
        .select("doc_id")
    )

    # Union of the two bounded candidate arms; lexical keeps its BM25
    # score, dense-only docs enter at 0.0 (they were found by the index,
    # not the terms).
    union_cand = (
        cand.join(dense_cand, on="doc_id", how="full")
        .select("doc_id", F.coalesce("bm25", F.lit(0.0)).alias("bm25"))
    )
    scored = (
        union_cand.join(eg, union_cand.doc_id == eg.vec_id)
        .crossJoin(F.broadcast(qvec))
        .select(
            "doc_id",
            "bm25",
            dot(F.col("qk"), kd).cast("long").alias("dense_ip"),
        )
    )
    return scored.orderBy(F.col("dense_ip").desc(), "doc_id").limit(final_k)


@register("q_retrieval_hybrid", oracle=_hybrid_oracle())
def q_retrieval_hybrid(spark, sf_dir):
    """HYBRID retrieval — lexical candidates ∪ IVF-indexed dense
    candidates, reranked by exact dense score: the deployment fix the
    round-6 sweep demanded. The sweep (PERF.md "Round 6: two-stage
    retrieval") measured that the
    two-stage topology's dense recall decays with corpus growth at fixed
    stage-1 N (recall→0 at 16× — PERF.md r06), because stage 2 only ever
    sees lexically-surfaced docs. Here stage 2 retrieves its own
    candidates from the IVF index (the q_ann_recall_ivfsq8 probe
    machinery): the PRF query vector probes its top cells, the
    probed-cell pool is ranked over SQ8 CODES (asymmetric-distance
    integer key, _hy_code_shortlist — VERDICT r07 item 3: the compressed
    scan reads 8x fewer bytes than the double grid), the
    top-{_HY_REFINE} shortlist is refined at full precision, and the
    refined top-{_HY_DENSE} join the BM25 top-N in one candidate pool.
    A dense-global winner the terms never mention now reaches the
    rerank through the index arm.

    Cross-engine exactness: BM25 per-term conditional sums (the
    established fold), Lloyd/assignment integer arithmetic replayed by
    _grid_ivf_ctes, SQ8 codes via the shared integer quantizer
    (_sq_ctes), the ADC ranking key computed in int64 on BOTH engines
    (dot_long ⇄ BIGINT SUM — terms can exceed 2^53 where a double fold
    would round), PRF sums and dense scores are integer-grid dot
    products < 2^53 (exact under any fold order), cell probing uses
    cosine_safe ⇄ _sql_cos (exact int operands, correctly-rounded
    sqrt/div — bit-identical), so the full WITH-chain replays
    value-level.

    Scale: every candidate arm is bounded (top-N TakeOrdered lexically;
    probed-cells equi-join + code scan + TakeOrdered densely, with full
    precision touched only for the {_HY_REFINE}-row shortlist and the
    final union — point reads); the corpus is never cross-joined or
    globally windowed; qvec/centers/probes/query-side unions are
    1-to-n_cells-row broadcasts. At 100 TB the dense arm reads only
    probed-cell partitions of the by-cell CODES layout and the lexical
    arm rides the vocabulary-keyed shuffles — the two prune dimensions
    (terms, cells) are independent, which is exactly why the union
    holds recall where either alone decays."""
    docs = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")
    return _hybrid_topk(docs, emb)


# --------------------------------------------------------------------------
# IVF + SQ8 + full-precision refine: the complete production ANN recipe
# --------------------------------------------------------------------------

#: Shortlist size the code scan hands to the full-precision refine —
#: 4x the final k, the usual small multiple (refine IO is refine_c
#: full-precision rows per query, nothing corpus-shaped).
_REFINE_C = 20


def _refine_oracle(refine_c: int = _REFINE_C) -> str:
    from incubator_flink_old_spark.queries.llm_ops11 import (
        _N_PROBE,
        _N_QUERIES,
        _TOPK,
        _grid_ivf_ctes,
        _sql_cos,
    )
    from incubator_flink_old_spark.queries.llm_ops18 import (
        _sq_ctes,
        _sq_sql_sqdist,
    )

    ivf_ctes, last_centers = _grid_ivf_ctes()
    return f"""
    WITH {ivf_ctes},
    {_sq_ctes()},
    qg AS (SELECT vec_id AS q_id, k AS qk FROM e WHERE vec_id < {_N_QUERIES}),
    pr AS (
        SELECT q_id, cell FROM (
            SELECT q.q_id, c.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.q_id
                       ORDER BY {_sql_cos('q.qk', 'c.cv')} DESC, c.cell
                   ) AS rn
            FROM qg q CROSS JOIN {last_centers} c) t
        WHERE rn <= {_N_PROBE}),
    ic AS (
        SELECT p.q_id, a.vec_id
        FROM pr p JOIN af a ON p.cell = a.cell),
    sl AS (
        SELECT q_id, vec_id FROM (
            SELECT ic.q_id, ic.vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY ic.q_id
                       ORDER BY {_sq_sql_sqdist('qc.code', 'cc.code')},
                                ic.vec_id) AS rn
            FROM ic
            JOIN codes cc ON ic.vec_id = cc.vec_id
            JOIN codes qc ON qc.vec_id = ic.q_id) t
        WHERE rn <= {refine_c}),
    it AS (
        SELECT q_id, vec_id FROM (
            SELECT sl.q_id, sl.vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY sl.q_id
                       ORDER BY {_sq_sql_sqdist('qe.k', 'ce.k')},
                                sl.vec_id) AS rn
            FROM sl
            JOIN e ce ON sl.vec_id = ce.vec_id
            JOIN e qe ON qe.vec_id = sl.q_id) t
        WHERE rn <= {_TOPK}),
    bt AS (
        SELECT q_id, vec_id FROM (
            SELECT q.vec_id AS q_id, c.vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_sq_sql_sqdist('q.k', 'c.k')}, c.vec_id) AS rn
            FROM e q CROSS JOIN e c WHERE q.vec_id < {_N_QUERIES}) t
        WHERE rn <= {_TOPK})
    SELECT b.q_id,
           CAST(COUNT(i.vec_id) AS BIGINT) AS hits,
           CAST(COUNT(i.vec_id) AS DOUBLE) / {_TOPK}.0 AS recall
    FROM bt b
    LEFT JOIN it i ON b.q_id = i.q_id AND b.vec_id = i.vec_id
    GROUP BY b.q_id
    """


def _serve_artifacts(spark, sf_dir) -> dict:
    """The CONFIG-INDEPENDENT half of the serve pipeline, computed once
    and threadable through any number of (n_probe, refine_c) settings
    (VERDICT r10 item 1 — q_serve_operating_point used to re-derive all
    of this per config): ONE Lloyd train (grid_ivf cells + centers),
    ONE SQ8 encode (codes + the query codes), the full-precision
    double-grid views (kd + the query vectors) and the brute-force
    exact ground truth bt — none of which depend on the probe/shortlist
    knobs. Single-config callers (:func:`_refine_ranked` with
    ``artifacts=None``) build it inline, unchanged behavior."""
    from pyspark.sql import Window

    from incubator_flink_old_spark.operators.similarity import (
        grid_ivf,
        grid_sqdist,
    )
    from incubator_flink_old_spark.queries.llm_ops11 import (
        _ITERS,
        _N_CELLS,
        _N_QUERIES,
        _TOPK,
    )
    from incubator_flink_old_spark.queries.llm_ops18 import (
        _grid_vec,
        _sq_codes,
    )

    emb = t(spark, sf_dir, "embeddings")
    cells, centers = grid_ivf(emb, n_cells=_N_CELLS, iters=_ITERS)
    eg = emb.select("vec_id", _grid_vec().alias("k"))
    codes = _sq_codes(eg)
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    qcodes = codes.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("code").alias("qcode")
    )
    kd = eg.select(
        "vec_id", F.transform("k", lambda x: x.cast("double")).alias("kd")
    )
    qk = kd.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("kd").alias("qv")
    )
    # exact full-precision ground truth (the family's shared harness;
    # brute force bounded to the 20-query sample)
    w = Window.partitionBy("q_id").orderBy("d", "vec_id")
    bd = (
        F.broadcast(qk)
        .crossJoin(kd.select("vec_id", F.col("kd").alias("cv")))
        .select(
            "q_id", "vec_id", grid_sqdist(F.col("qv"), F.col("cv")).alias("d")
        )
    )
    bt = (
        bd.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOPK)
        .select("q_id", "vec_id")
    )
    return dict(
        cells=cells,
        centers=centers,
        codes=codes,
        queries=queries,
        qcodes=qcodes,
        kd=kd,
        qk=qk,
        bt=bt,
    )


def _refine_ranked(
    spark,
    sf_dir,
    refine_c: int = _REFINE_C,
    n_probe: int | None = None,
    artifacts: dict | None = None,
):
    """The refine pipeline's RANKED result and its ground truth:
    returns (it, bt) where it = (q_id, vec_id, rn) — the exact-distance
    top-k over the code-rank shortlist, rank kept — and bt = the
    brute-force exact top-k (q_id, vec_id). Shared by the recall row
    and the rank-aware evaluation row (MRR/nDCG) so both score the
    same shipped pipeline. Pass ``artifacts``
    (:func:`_serve_artifacts`, possibly persisted by the caller) to
    share ONE train/encode/truth across configs — only the probe and
    shortlist tails below depend on (n_probe, refine_c)."""
    from pyspark.sql import Window

    from incubator_flink_old_spark.operators.similarity import (
        grid_probes,
        grid_sqdist,
    )
    from incubator_flink_old_spark.queries.llm_ops11 import _N_PROBE, _TOPK

    n_probe = _N_PROBE if n_probe is None else n_probe
    if artifacts is None:
        artifacts = _serve_artifacts(spark, sf_dir)
    cells, centers = artifacts["cells"], artifacts["centers"]
    codes, qcodes = artifacts["codes"], artifacts["qcodes"]
    probes = grid_probes(artifacts["queries"], centers, n_probe=n_probe)
    cand = probes.join(cells, on="cell").select("q_id", "vec_id")
    # stage A: compressed scan — rank the probed pool by int8 codes,
    # keep the refine_c shortlist (the only corpus-shaped work, at 8x
    # fewer bytes than the double grid)
    code_scored = (
        cand.join(codes, on="vec_id")
        .join(F.broadcast(qcodes), on="q_id")
        .select(
            "q_id",
            "vec_id",
            grid_sqdist(F.col("qcode"), F.col("code")).alias("cd"),
        )
    )
    wc = Window.partitionBy("q_id").orderBy("cd", "vec_id")
    shortlist = (
        code_scored.withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") <= refine_c)
        .select("q_id", "vec_id")
    )
    # stage B: full-precision refine — refine_c point reads per query
    # (an equi-join on vec_id), exact grid distance, final top-k
    kd, qk = artifacts["kd"], artifacts["qk"]
    refined = (
        shortlist.join(kd, on="vec_id")
        .join(F.broadcast(qk), on="q_id")
        .select(
            "q_id", "vec_id", grid_sqdist(F.col("qv"), F.col("kd")).alias("d")
        )
    )
    w = Window.partitionBy("q_id").orderBy("d", "vec_id")
    it = (
        refined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOPK)
        .select("q_id", "vec_id", "rn")
    )
    return it, artifacts["bt"]


def _ivfsq8_refine_recall_df(
    spark, sf_dir, refine_c: int = _REFINE_C, n_probe: int | None = None
):
    """Shared body of q_ann_recall_ivfsq8_refine; the law tests vary
    ``refine_c`` (monotone recall; refine_c ≥ pool ≡ exact ranking over
    the probed cells) and ``n_probe``."""
    from incubator_flink_old_spark.queries.llm_ops11 import _TOPK

    it, bt = _refine_ranked(spark, sf_dir, refine_c, n_probe)
    it = it.select(F.col("q_id").alias("iq"), F.col("vec_id").alias("ivec"))
    return (
        bt.join(it, (bt.q_id == it.iq) & (bt.vec_id == it.ivec), "left")
        .groupBy("q_id")
        .agg(
            F.count("ivec").alias("hits"),
            (F.count("ivec").cast("double") / _TOPK).alias("recall"),
        )
    )


@register("q_ann_recall_ivfsq8_refine", oracle=_refine_oracle())
def q_ann_recall_ivfsq8_refine(spark, sf_dir):
    """MEASURED recall@5 for IVF + SQ8 + FULL-PRECISION REFINE — the
    complete production ANN recipe (FAISS's IVF,SQ8 with a refine
    stage): the coarse quantizer prunes to probed cells, the int8 code
    scan ranks the pruned pool and keeps a refine_c (=20, 4x the final
    k) shortlist, and only the shortlist is re-read at full precision for
    the exact final ranking. Quantization error can now only cost
    recall when a true neighbor falls outside the code-rank shortlist —
    provably never when it's inside: the refine ranks by the SAME key
    as the ground truth, so hits = |truth ∩ shortlist| exactly, which
    makes refine recall ≥ plain IVF+SQ8 recall and monotone in
    refine_c (both pinned in tests/test_wave41.py).

    Scale: stage A is q_ann_recall_ivfsq8's partition-pruned compressed
    scan unchanged; stage B touches refine_c full-precision rows per
    query via an equi-join on vec_id (point lookups under the by-id
    layout) — per-query IO is refine_c·dim doubles, independent of
    corpus size. The brute-force arm exists only in the measurement
    harness, bounded to the 20-query sample."""
    return _ivfsq8_refine_recall_df(spark, sf_dir)


# --------------------------------------------------------------------------
# IVF incremental maintenance: delta vectors assigned to FROZEN centers
# --------------------------------------------------------------------------

#: Base/delta split: vec_id % 5 == 4 is the "newly arrived" 20% the
#: index must absorb without retraining.
_IVF_DELTA_MOD = 5
_IVF_DELTA_REM = 4


def _ivf_incremental_oracle() -> str:
    from incubator_flink_old_spark.queries.llm_ops11 import (
        _grid_ivf_ctes,
        _sql_cos,
    )

    base_src = (
        f"(SELECT * FROM embeddings WHERE vec_id % {_IVF_DELTA_MOD} "
        f"<> {_IVF_DELTA_REM}) base_emb"
    )
    ivf_ctes, last_centers = _grid_ivf_ctes(src=base_src)
    return f"""
    WITH {ivf_ctes},
    e2 AS (
        SELECT vec_id,
               vec_id % {_IVF_DELTA_MOD} <> {_IVF_DELTA_REM} AS is_base,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(FLOOR(x * 1000000.0) AS BIGINT)) AS k
        FROM embeddings),
    aa AS (
        SELECT vec_id, is_base, cell FROM (
            SELECT e2.vec_id, e2.is_base, c.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY e2.vec_id
                       ORDER BY {_sql_cos('e2.k', 'c.cv')} DESC, c.cell
                   ) AS rn
            FROM e2 CROSS JOIN {last_centers} c) t
        WHERE rn = 1)
    SELECT cell,
           CAST(SUM(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT)
               AS n_base,
           CAST(SUM(CASE WHEN is_base THEN 0 ELSE 1 END) AS BIGINT)
               AS n_delta,
           CAST(SUM(CASE WHEN is_base THEN 0 ELSE 1 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS frac_delta
    FROM aa
    GROUP BY cell
    """


@register("q_ivf_incremental", oracle=_ivf_incremental_oracle())
def q_ivf_incremental(spark, sf_dir):
    """IVF index MAINTENANCE without retrain — the q_zorder_incremental
    analog for the ANN layout: the coarse quantizer is trained on the
    base corpus only (vec_id % 5 != 4), then a 20% delta batch of
    newly-arrived vectors is absorbed by assigning each to its nearest
    FROZEN center (operators/similarity.grid_assign_map — the same
    quantization and ranking arithmetic training used, so incremental ≡
    batch assignment by construction, law-pinned in
    tests/test_wave41.py). The row reports per cell how the delta
    landed: (n_base, n_delta, frac_delta) — the drift audit that tells
    a deployment when delta skew has degraded cell balance enough to
    schedule a re-train, exactly how the z-order layout re-records its
    bounds at compaction.

    Scale: the delta assignment is a MAP-ONLY pass (n_cells-row center
    broadcast, each row's cell decided locally — no shuffle of the
    existing corpus, no Lloyd rounds); appended rows land in by-cell
    partitions so probes keep pruning across base+delta; the audit
    itself is one digest-sized (cell) groupBy. The oracle replays Lloyd
    on the filtered base plus the frozen-center assignment of the full
    table, value-exactly."""
    from incubator_flink_old_spark.operators.similarity import (
        grid_assign_map,
        grid_ivf,
    )
    from incubator_flink_old_spark.queries.llm_ops11 import (
        _ITERS,
        _N_CELLS,
    )

    emb = t(spark, sf_dir, "embeddings")
    is_base = F.col("vec_id") % _IVF_DELTA_MOD != _IVF_DELTA_REM
    base = emb.filter(is_base)
    delta = emb.filter(~is_base)
    _, centers = grid_ivf(base, n_cells=_N_CELLS, iters=_ITERS)
    rows = centers.collect()  # bounded: n_cells rows
    ab = grid_assign_map(base, rows).withColumn("is_base", F.lit(True))
    ad = grid_assign_map(delta, rows).withColumn("is_base", F.lit(False))
    return (
        ab.unionByName(ad)
        .groupBy("cell")
        .agg(
            F.sum(F.when(F.col("is_base"), 1).otherwise(0))
            .cast("long")
            .alias("n_base"),
            F.sum(F.when(F.col("is_base"), 0).otherwise(1))
            .cast("long")
            .alias("n_delta"),
            (
                F.sum(F.when(F.col("is_base"), 0).otherwise(1)).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("frac_delta"),
        )
    )


# --------------------------------------------------------------------------
# Rank-aware retrieval evaluation: MRR / nDCG / recall per query
# --------------------------------------------------------------------------

def _eval_weights() -> tuple[list[float], float]:
    """Per-rank nDCG discounts 1/log2(i+1), i = 1..k, plus the ideal
    DCG (their fixed-order sum), computed ONCE in Python. Both the
    Spark expression and the SQL oracle embed these exact double
    LITERALS (repr round-trips them losslessly), so neither engine
    evaluates log() at query time — libm's log is not guaranteed
    correctly rounded across implementations, and a last-ulp
    divergence would hash-mismatch."""
    import math

    from incubator_flink_old_spark.queries.llm_ops11 import _TOPK

    ws = [1.0 / math.log2(i + 1) for i in range(1, _TOPK + 1)]
    idcg = 0.0
    for w in ws:
        idcg += w
    return ws, idcg


def _eval_oracle() -> str:
    from incubator_flink_old_spark.queries.llm_ops11 import _TOPK

    ws, idcg = _eval_weights()
    # Reuse the refine oracle's chain up to it/bt (unused `it` CTE is
    # harmless), appending a rank-keeping re-rank `hr` plus the metric
    # tail in place of the recall SELECT. Guard the splice: if the
    # refine oracle's tail shape ever changes, fail loudly here instead
    # of silently corrupting the eval oracle.
    base = _refine_oracle()
    # Not an assert: this runs at module import inside @register, and
    # under `python -O` a stripped assert would silently mis-splice the
    # eval oracle — the exact failure the guard exists to catch
    # (ADVICE r07).
    if base.count("SELECT b.q_id,") != 1:
        raise RuntimeError(
            "refine oracle shape changed: expected exactly one "
            "'SELECT b.q_id,' splice point in _refine_oracle()"
        )
    head, _tail = base.rsplit("SELECT b.q_id,", 1)
    hs = ",\n           ".join(
        f"COALESCE(MAX(CASE WHEN i.rn = {i} AND b.q_id IS NOT NULL "
        f"THEN 1 END), 0) AS h{i}"
        for i in range(1, _TOPK + 1)
    )
    # every literal is CAST to DOUBLE: DuckDB parses bare numeric
    # literals as DECIMAL, which both changes the column type and
    # routes the nDCG arithmetic through decimal rounding
    mrr_case = " ".join(
        f"WHEN h{i} = 1 THEN CAST({1.0 / i!r} AS DOUBLE)"
        for i in range(1, _TOPK + 1)
    )
    dcg = " + ".join(
        f"h{i} * CAST({ws[i - 1]!r} AS DOUBLE)" for i in range(1, _TOPK + 1)
    )
    rec = " + ".join(f"h{i}" for i in range(1, _TOPK + 1))
    return f"""{head},\n    hr AS (
        SELECT q_id, vec_id, rn FROM (
            SELECT sl.q_id, sl.vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY sl.q_id
                       ORDER BY {_eval_sqdist('qe.k', 'ce.k')},
                                sl.vec_id) AS rn
            FROM sl
            JOIN e ce ON sl.vec_id = ce.vec_id
            JOIN e qe ON qe.vec_id = sl.q_id) t
        WHERE rn <= {_TOPK}),
    hm AS (
        SELECT i.q_id,
           {hs}
        FROM hr i
        LEFT JOIN bt b ON i.q_id = b.q_id AND i.vec_id = b.vec_id
        GROUP BY i.q_id)
    SELECT q_id,
           CASE {mrr_case} ELSE CAST(0.0 AS DOUBLE) END AS mrr,
           ({dcg}) / CAST({idcg!r} AS DOUBLE) AS ndcg,
           CAST(({rec}) AS DOUBLE) / {_TOPK}.0 AS recall
    FROM hm
    """


def _eval_sqdist(a: str, b: str) -> str:
    from incubator_flink_old_spark.queries.llm_ops18 import _sq_sql_sqdist

    return _sq_sql_sqdist(a, b)


@register("q_ann_eval_refine", oracle=_eval_oracle())
def q_ann_eval_refine(spark, sf_dir):
    """Rank-aware retrieval EVALUATION over the refine tier — the eval
    harness a training-data platform runs nightly, as one distributed
    query: per query vector, MRR (reciprocal rank of the first true
    neighbor), nDCG@5 (rank-discounted gain against the ideal ordering)
    and recall@5, all against the exact brute-force truth. recall says
    WHETHER the truth was found; MRR/nDCG say WHERE it landed — an
    index can hold recall while quietly pushing truth to the bottom
    ranks, and only the rank-aware metrics catch that drift.

    Cross-engine exactness: the rank pipeline is the shipped refine
    chain (integer arithmetic end to end); the per-rank hit flags are
    0/1 integers pivoted in fixed rank order; the nDCG discounts
    1/log2(i+1) and the ideal DCG are Python-computed double LITERALS
    embedded in BOTH engines' expressions (libm log at query time is
    not correctly-rounded-portable), and every sum is a fixed-order
    5-term chain — bit-identical on any engine.

    Scale: adds one ≤k-row-per-query pivot on top of the refine
    pipeline — digest-sized; the metrics aggregate is O(queries)."""
    from incubator_flink_old_spark.queries.llm_ops11 import _TOPK

    ws, idcg = _eval_weights()
    it, bt = _refine_ranked(spark, sf_dir)
    bt_hit = bt.select("q_id", "vec_id", F.lit(1).alias("__hit"))
    hm = (
        it.join(bt_hit, on=["q_id", "vec_id"], how="left")
        .groupBy("q_id")
        .agg(
            *[
                F.coalesce(
                    F.max(
                        F.when(
                            (F.col("rn") == i) & F.col("__hit").isNotNull(),
                            F.lit(1),
                        )
                    ),
                    F.lit(0),
                ).alias(f"h{i}")
                for i in range(1, _TOPK + 1)
            ]
        )
    )
    mrr = F.lit(0.0)
    for i in range(_TOPK, 0, -1):
        mrr = F.when(F.col(f"h{i}") == 1, F.lit(1.0 / i)).otherwise(mrr)
    dcg = F.col("h1") * F.lit(ws[0])
    for i in range(2, _TOPK + 1):
        dcg = dcg + F.col(f"h{i}") * F.lit(ws[i - 1])
    rec = F.col("h1")
    for i in range(2, _TOPK + 1):
        rec = rec + F.col(f"h{i}")
    return hm.select(
        "q_id",
        mrr.alias("mrr"),
        (dcg / F.lit(idcg)).alias("ndcg"),
        (rec.cast("double") / F.lit(float(_TOPK))).alias("recall"),
    )


# --------------------------------------------------------------------------
# Incremental BM25 index maintenance: merged corpus stats, exact ranking
# --------------------------------------------------------------------------

def _bm25_incremental_oracle() -> str:
    from incubator_flink_old_spark.queries.llm_ops18 import _bm25_ctes

    # The oracle scores the union corpus DIRECTLY — the whole claim of
    # the incremental path is that merged statistics rank identically,
    # so the strongest oracle is the non-incremental computation.
    return f"""
    WITH {_bm25_ctes(n_candidates=20)}
    SELECT doc_id, bm25 FROM cand
    """


@register("q_bm25_incremental", oracle=_bm25_incremental_oracle())
def q_bm25_incremental(spark, sf_dir):
    """Incremental LEXICAL index maintenance — the BM25 twin of
    q_ivf_incremental: a 20% delta batch of new documents
    (doc_id % 5 == 4) is absorbed by MERGING per-source corpus
    statistics (doc count, token count, per-term document frequency —
    operators/retrieval.bm25_index_stats / merge_bm25_stats) instead of
    recomputing them over the union, and the union corpus is ranked
    with the merged stats injected into the shipped scorer. The merge
    is integer SUM on raw counts and avgdl divides the same merged
    longs, so the incremental ranking is BIT-IDENTICAL to a full
    recompute — which is exactly what the oracle checks: it scores the
    union corpus directly, no merge in sight.

    Scale: appending documents to a lexical index is a map-only
    postings write (per-doc tf/dl never cross documents) plus this
    digest-sized stats merge (one 1-row frame and one |terms|-row frame
    per source) — the existing corpus is never re-tokenized. The same
    mergeability is why the stats survive any partitioning: they are
    sums, the canonical algebraic aggregate.
    """
    from incubator_flink_old_spark.operators.retrieval import (
        bm25_index_stats,
        bm25_topk,
        merge_bm25_stats,
    )
    from incubator_flink_old_spark.queries.llm_ops18 import _TS_TERMS

    docs = t(spark, sf_dir, "documents")
    is_base = F.col("doc_id") % _IVF_DELTA_MOD != _IVF_DELTA_REM
    base, delta = docs.filter(is_base), docs.filter(~is_base)
    merged = merge_bm25_stats(
        bm25_index_stats(base, _TS_TERMS),
        bm25_index_stats(delta, _TS_TERMS),
    )
    return bm25_topk(docs, terms=_TS_TERMS, index_stats=merged)


# --------------------------------------------------------------------------
# SQ8 incremental encoding: frozen quantizer bounds, boundary clamping
# --------------------------------------------------------------------------

def _sq8_incremental_oracle() -> str:
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
            WHERE vec_id % {_IVF_DELTA_MOD} <> {_IVF_DELTA_REM}) b,
            range(1, {_DIM + 1}) r(p)),
    mm AS (SELECT p, MIN(v) AS lo, MAX(v) AS hi FROM bdims GROUP BY p),
    ddims AS (
        SELECT r.p AS p, k[r.p] AS v FROM (
            SELECT list_transform(embedding::DOUBLE[],
                       x -> CAST(FLOOR(x * {_GRID}) AS BIGINT)) AS k
            FROM embeddings
            WHERE vec_id % {_IVF_DELTA_MOD} = {_IVF_DELTA_REM}) d,
            range(1, {_DIM + 1}) r(p)),
    enc AS (
        SELECT d.p, d.v, m.lo, m.hi,
               CASE WHEN m.hi = m.lo THEN 0
                    ELSE LEAST(GREATEST(
                        (d.v - m.lo) * {_SQ_LEVELS} // (m.hi - m.lo),
                        0), {_SQ_LEVELS})
               END AS c
        FROM ddims d JOIN mm m ON d.p = m.p)
    SELECT p, lo, hi,
           CAST(SUM(CASE WHEN v < lo THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clamp_lo,
           CAST(SUM(CASE WHEN v > hi THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clamp_hi,
           CAST(SUM(c) AS BIGINT) AS code_sum
    FROM enc
    GROUP BY p, lo, hi
    """


@register("q_sq8_incremental", oracle=_sq8_incremental_oracle())
def q_sq8_incremental(spark, sf_dir):
    """SQ8 incremental encoding — the quantized tier's maintenance
    story, completing the matrix (z-order re-records bounds at
    compaction, IVF assigns deltas to frozen centers, BM25 merges count
    stats): a 20% delta batch is encoded against the BASE corpus's
    FROZEN per-dim (lo, hi) quantizer table, with out-of-bounds values
    clamped to the boundary codes (0 / 255) — correct-but-degraded,
    exactly the operators/layout.quantize discipline; re-encode at the
    next compaction if drift is systematic. The row reports the drift
    audit per dimension: (lo, hi, n_clamp_lo, n_clamp_hi, code_sum) —
    clamp counts say how far the delta distribution has walked out of
    the frozen range, code_sum is an exact integer fingerprint of the
    encoded batch.

    Cross-engine note: a below-lo value makes the pre-clamp code
    negative, where Spark's div (truncate toward zero) and DuckDB's //
    (floor) genuinely disagree — but both then clamp to 0, so the
    shipped (clamped) codes are bit-identical; the clamp is what makes
    the incremental path oracle-checkable at all.

    Scale: encoding a delta batch is a MAP-ONLY pass (the 64-row frozen
    bounds table broadcasts; no shuffle of the existing corpus); the
    audit is one digest-sized per-dim aggregate."""
    from incubator_flink_old_spark.queries.llm_ops18 import (
        _grid_vec,
        _sq_bounds,
        _sq_dims,
        _SQ_LEVELS,
    )

    emb = t(spark, sf_dir, "embeddings")
    is_base = F.col("vec_id") % _IVF_DELTA_MOD != _IVF_DELTA_REM
    base_eg = emb.filter(is_base).select("vec_id", _grid_vec().alias("k"))
    delta_eg = emb.filter(~is_base).select("vec_id", _grid_vec().alias("k"))
    mm = _sq_bounds(base_eg)
    c = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.expr(f"(v - lo) * {_SQ_LEVELS} div (hi - lo)")
    )
    enc = (
        _sq_dims(delta_eg)
        .join(F.broadcast(mm), on="p")
        .select(
            "p",
            "v",
            "lo",
            "hi",
            F.least(
                F.greatest(c, F.lit(0).cast("long")),
                F.lit(_SQ_LEVELS).cast("long"),
            ).alias("c"),
        )
    )
    return enc.groupBy("p", "lo", "hi").agg(
        F.sum(F.when(F.col("v") < F.col("lo"), 1).otherwise(0))
        .cast("long")
        .alias("n_clamp_lo"),
        F.sum(F.when(F.col("v") > F.col("hi"), 1).otherwise(0))
        .cast("long")
        .alias("n_clamp_hi"),
        F.sum("c").cast("long").alias("code_sum"),
    )


# --------------------------------------------------------------------------
# Streaming IVF assignment: live vectors land in their cells, map-only
# --------------------------------------------------------------------------

def _stream_ivf_oracle() -> str:
    from incubator_flink_old_spark.queries.llm_ops11 import (
        _grid_ivf_ctes,
        _sql_cos,
    )

    base_src = (
        f"(SELECT * FROM embeddings WHERE vec_id % {_IVF_DELTA_MOD} "
        f"<> {_IVF_DELTA_REM}) base_emb"
    )
    ivf_ctes, last_centers = _grid_ivf_ctes(src=base_src)
    return f"""
    WITH {ivf_ctes},
    d AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(FLOOR(x * 1000000.0) AS BIGINT)) AS k
        FROM embeddings
        WHERE vec_id % {_IVF_DELTA_MOD} = {_IVF_DELTA_REM})
    SELECT vec_id, cell FROM (
        SELECT d.vec_id, c.cell,
               ROW_NUMBER() OVER (
                   PARTITION BY d.vec_id
                   ORDER BY {_sql_cos('d.k', 'c.cv')} DESC, c.cell
               ) AS rn
        FROM d CROSS JOIN {last_centers} c) t
    WHERE rn = 1
    """


@register("q_stream_ivf_assign_parity", oracle=_stream_ivf_oracle())
def q_stream_ivf_assign_parity(spark, sf_dir):
    """STREAMING IVF assignment ⇄ batch parity — the maintenance matrix
    extended into the streaming dimension: new vectors arrive as a REAL
    multi-batch stream and each lands in its by-cell partition through
    operators/similarity.grid_assign_map — the map-only form (centers
    as a literal array, expression-level argmax fold) that Structured
    Streaming accepts, since the join+window form is off-limits there.
    The batch twin is q_ivf_incremental's frozen-center assignment; the
    oracle replays Lloyd on the base corpus plus the delta assignment
    value-exactly, and the map ≡ join+window law is pinned in
    tests/test_wave41.py.

    Scale: per micro-batch cost is a pure map over the batch's rows
    (n_cells × dim literals ship once in the plan; no shuffle, no
    state) — a live embedding feed lands in cell partitions at ingest
    throughput, and the q_ivf_incremental drift audit runs downstream
    on the landed files.
    """
    from incubator_flink_old_spark.operators.similarity import (
        grid_assign_map,
        grid_ivf,
    )
    from incubator_flink_old_spark.queries.llm_ops11 import (
        _ITERS,
        _N_CELLS,
    )
    from incubator_flink_old_spark.streaming import replay_source, stream_result

    emb = t(spark, sf_dir, "embeddings")
    is_base = F.col("vec_id") % _IVF_DELTA_MOD != _IVF_DELTA_REM
    _, centers = grid_ivf(emb.filter(is_base), n_cells=_N_CELLS, iters=_ITERS)
    center_rows = centers.collect()  # n_cells rows — bounded by design

    delta = emb.filter(~is_base).select("vec_id", "embedding")
    with replay_source(
        b.repartition(1) for b in vec_id_thirds(delta)
    ) as stream:
        out = stream_result(
            grid_assign_map(stream, center_rows),
            "append",
            state_partitions=None,
        )
    return out.select("vec_id", "cell")
