"""Training-data pipeline queries, wave 32: the runtime BLOOM-FILTER
semi-join reduction (Catalyst's InjectRuntimeFilter — the optimization
that keeps a 100 TB fact scan from shuffling rows a selective dim
filter would discard anyway), int8 SCALAR QUANTIZATION recall (the
simplest compression tier of an ANN stack, measured like the PQ/IVF
recalls of llm_ops11), and TWO-STAGE retrieval (BM25 candidate
generation → pseudo-relevance-feedback embedding rerank — the standard
modern retrieval topology, lexical recall + dense precision).

All three follow the repo's cross-engine-exactness rules: integer-grid
arithmetic for anything ranked (no float-fold hazards), conditional
per-term sums for BM25 (fixed fold order), and the bloom query's result
is by construction identical to the plain join (a bloom filter admits
false positives only — the join itself re-verifies every key).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from incubator_flink_old_spark.queries import register
from incubator_flink_old_spark.queries._util import t

# ---------------------------------------------------------------------------
# Runtime bloom-filter join
# ---------------------------------------------------------------------------

_BLOOM_ORACLE = """
    SELECT l.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(27,6))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY l.l_returnflag
    """

#: (conf, forced value) pairs that make InjectRuntimeFilter fire at test
#: scale. At 100 TB none of them are needed: the fact side's scan
#: exceeds the 10 GiB application-side default and a selectively
#: filtered dim stays under the 10 MiB creation-side default — the
#: forcing only recreates the size ratio the defaults target.
_BLOOM_CONFS = (
    ("spark.sql.optimizer.runtime.bloomFilter.enabled", "true"),
    ("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"),
    ("spark.sql.autoBroadcastJoinThreshold", "-1"),
)


def _bloom_join_df(spark, sf_dir):
    """The join under the runtime-filter confs — shared by the query and
    the plan-audit test."""
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    l = t(spark, sf_dir, "lineitem")
    j = l.join(o, l.l_orderkey == o.o_orderkey)
    return j.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(27,6)"
            )
        )
        .cast("double")
        .alias("revenue"),
    )


@register("q_bloom_runtime_join", oracle=_BLOOM_ORACLE)
def q_bloom_runtime_join(spark, sf_dir):
    """Shuffle join under Catalyst's runtime bloom-filter injection: the
    selective dim filter (URGENT orders) is condensed into a
    bloom_filter_agg scalar subquery and applied as might_contain(...)
    ON THE FACT SCAN — rows whose o_orderkey cannot match never enter
    the fact side's exchange. tests/test_wave32.py asserts the
    might_contain predicate is actually in the optimized plan under
    these confs.

    Semantics are conf-independent (a bloom admits false positives
    only; the equi-join re-verifies every surviving key), so the oracle
    is the plain join SQL. The plan is materialized eagerly UNDER the
    forced confs and the session settings are restored before
    returning — the forcing never leaks into sibling queries.

    Scale: this is the single highest-leverage shuffle reducer for
    selective dim-fact joins at 100 TB — the bloom is a fixed-size
    byte-array broadcast (8 MiB default), the fact side drops
    non-joining rows BEFORE the exchange, and the defaults fire without
    any of the test-scale forcing."""
    saved = {c: spark.conf.get(c, None) for c, _ in _BLOOM_CONFS}
    for c, v in _BLOOM_CONFS:
        spark.conf.set(c, v)
    try:
        # Eager materialization pins the bloom-injected plan while the
        # confs are live; the returned frame is conf-independent.
        return _bloom_join_df(spark, sf_dir).localCheckpoint(eager=True)
    finally:
        for c, v in saved.items():
            if v is None:
                spark.conf.unset(c)
            else:
                spark.conf.set(c, v)


# ---------------------------------------------------------------------------
# int8 scalar-quantization recall
# ---------------------------------------------------------------------------

_DIM = 64
_GRID = 1_000_000.0
_N_QUERIES = 20
_TOPK = 5
_SQ_LEVELS = 255  # codes 0..255 — int8's unsigned range


def _sq_sql_sqdist(a: str, b: str) -> str:
    """Exact integer squared-L2 via the dot identity (the llm_ops11
    recipe): operands are integer-valued doubles far below 2^53."""
    da = f"list_transform({a}, x -> CAST(x AS DOUBLE))"
    db = f"list_transform({b}, x -> CAST(x AS DOUBLE))"
    return (
        f"(list_dot_product({da}, {da}) - 2 * list_dot_product({da}, {db})"
        f" + list_dot_product({db}, {db}))"
    )


def _sq_ctes() -> str:
    """SQ8 encoding CTE chain over a grid CTE ``e`` (vec_id, k [, ...]):
    per-(vector, dim) values → per-dim (lo, hi) bounds → integer codes
    0..{levels} via (v − lo)·levels // (hi − lo) → per-vector code
    lists. Factored so the IVF composition (llm_ops25's
    q_ann_recall_ivfsq8) replays the EXACT same encoding arithmetic the
    plain-SQ8 oracle uses — the all-cells ≡ plain-SQ8 law depends on
    byte-identical codes."""
    return f"""
    dims AS (
        SELECT vec_id, r.p AS p, k[r.p] AS v
        FROM e, range(1, {_DIM + 1}) r(p)),
    mm AS (
        SELECT p, MIN(v) AS lo, MAX(v) AS hi FROM dims GROUP BY p),
    qd AS (
        SELECT d.vec_id, d.p,
               CASE WHEN m.hi = m.lo THEN 0
                    ELSE (d.v - m.lo) * {_SQ_LEVELS} // (m.hi - m.lo)
               END AS c
        FROM dims d JOIN mm m ON d.p = m.p),
    codes AS (
        SELECT vec_id, list(c ORDER BY p) AS code FROM qd GROUP BY vec_id)"""


_SQ_ORACLE = f"""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(FLOOR(x * {_GRID}) AS BIGINT)) AS k
        FROM embeddings),
    {_sq_ctes()},
    it AS (
        SELECT q_id, vec_id FROM (
            SELECT q.vec_id AS q_id, c.vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_sq_sql_sqdist('q.code', 'c.code')},
                                c.vec_id) AS rn
            FROM codes q CROSS JOIN codes c
            WHERE q.vec_id < {_N_QUERIES}) t
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


def _grid_vec(col: str = "embedding"):
    from incubator_flink_old_spark.operators.similarity import as_double_array

    return F.transform(
        as_double_array(col),
        lambda x: F.floor(x * F.lit(_GRID)).cast("long"),
    )


def _sq_dims(eg):
    """Explode a grid frame to (vec_id, p 1-based, v) — the per-(vector,
    dim) view both the bounds aggregate and the encoder consume."""
    return eg.select("vec_id", F.posexplode("k").alias("p0", "v")).select(
        "vec_id", (F.col("p0") + 1).alias("p"), "v"
    )


def _sq_bounds(eg):
    """Per-dim (p, lo, hi) min-max bounds — the SQ8 quantizer table
    (ONE 64-row broadcast from a map-side-combined aggregate). Factored
    so the incremental encoder (llm_ops26) can FREEZE the base corpus's
    bounds and encode delta batches against them."""
    return _sq_dims(eg).groupBy("p").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )


def _sq_codes(eg, bounds=None, clamp: bool = False):
    """SQ8-encode a grid frame (vec_id, k array<long>) → (vec_id, code
    array<double>): per-dim min-max bounds (:func:`_sq_bounds`), then
    the integer quantizer (v − lo)·levels div (hi − lo) — bit-identical
    on any engine (no float division). Factored from q_ann_recall_sq8
    so the IVF composition encodes with the exact same arithmetic.

    ``bounds`` injects a FROZEN quantizer table instead of recomputing
    from ``eg`` (the incremental-index path); ``clamp`` two-sides the
    code into [0, levels] for values outside the frozen bounds — out of
    range low would otherwise go negative, where Spark's `div`
    (truncate) and DuckDB's `//` (floor) disagree; post-clamp both land
    on the boundary code, identically (the operators/layout.quantize
    clamp discipline)."""
    dims = _sq_dims(eg)
    mm = _sq_bounds(eg) if bounds is None else bounds
    c = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.expr(f"(v - lo) * {_SQ_LEVELS} div (hi - lo)")
    )
    if clamp:
        c = F.least(
            F.greatest(c, F.lit(0).cast("long")),
            F.lit(_SQ_LEVELS).cast("long"),
        )
    qd = dims.join(F.broadcast(mm), on="p").select("vec_id", "p", c.alias("c"))
    return qd.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("p", "c"))),
            lambda s: s.getField("c").cast("double"),
        ).alias("code")
    )


@register("q_ann_recall_sq8", oracle=_SQ_ORACLE)
def q_ann_recall_sq8(spark, sf_dir):
    """MEASURED int8 scalar-quantization recall@5 — the third point on
    the ANN compression-accuracy curve next to q_ann_recall_pq (64×)
    and the exact tiers: each dimension is independently min-max
    quantized to an 8-bit code (4× smaller than float32, 8× smaller
    than the double grid), search ranks by squared L2 over the codes,
    and the row reports how many of the exact top-5 survive.

    Everything is integer arithmetic END TO END — the quantizer maps
    the 1e6 grid longs through (v − lo) · 255 div (hi − lo), so both
    engines compute bit-identical codes with no float division in
    sight (the llm_ops11 integer-grid recipe, extended to SQ).

    Scale: the per-dimension (lo, hi) table is ONE 64-row broadcast
    computed in a single map-side-combined aggregate; encoding is a
    map-only pass; the quantized corpus is the memory-resident scan
    tier (int8 × dim per vector). Code distances here are exact
    brute-force for the measurement; production composes SQ with the
    IVF probe prune exactly like q_sim_ivfpq_topk composes PQ."""
    emb = t(spark, sf_dir, "embeddings")
    eg = emb.select("vec_id", _grid_vec().alias("k"))
    codes = _sq_codes(eg)

    from incubator_flink_old_spark.operators.similarity import grid_sqdist

    def topk(frame, vcol):
        from pyspark.sql import Window

        q = frame.filter(F.col("vec_id") < _N_QUERIES).select(
            F.col("vec_id").alias("q_id"), F.col(vcol).alias("qv")
        )
        d = q.crossJoin(
            frame.select("vec_id", F.col(vcol).alias("cv"))
        ).select(
            "q_id", "vec_id", grid_sqdist(F.col("qv"), F.col("cv")).alias("d")
        )
        w = Window.partitionBy("q_id").orderBy("d", "vec_id")
        return (
            d.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _TOPK)
            .select("q_id", "vec_id")
        )

    it = topk(codes, "code").select(
        F.col("q_id").alias("iq"), F.col("vec_id").alias("ivec")
    )
    bt = topk(
        eg.select("vec_id", F.transform("k", lambda x: x.cast("double")).alias("kd")),
        "kd",
    )
    return (
        bt.join(
            it,
            (bt.q_id == it.iq) & (bt.vec_id == it.ivec),
            "left",
        )
        .groupBy("q_id")
        .agg(
            F.count("ivec").alias("hits"),
            (F.count("ivec").cast("double") / _TOPK).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# Two-stage retrieval: BM25 candidates → dense PRF rerank
# ---------------------------------------------------------------------------

_TS_TERMS = ("hash", "join", "scan")
_TS_CANDIDATES = 50
_TS_FEEDBACK = 3
_TS_FINAL = 10


def _bm25_ctes(n_candidates: int = _TS_CANDIDATES) -> str:
    """BM25 stage-1 CTE chain (tk → tf → dl → sc → dft → s → p →
    ``cand`` (doc_id, bm25), the top-``n_candidates``) — replays
    operators/retrieval.bm25_topk value-exactly. Factored so the hybrid
    retrieval oracle (llm_ops26) shares the lexical stage with this
    module's two-stage oracle by construction."""
    dft_terms = ", ".join(f"'{w}'" for w in _TS_TERMS)
    sums = ",\n               ".join(
        f"SUM(CASE WHEN w = '{w}' THEN s END) AS s{i}"
        for i, w in enumerate(_TS_TERMS)
    )
    total = " + ".join(f"COALESCE(s{i}, 0.0)" for i in range(len(_TS_TERMS)))
    return rf"""
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
            WHERE w IN ({dft_terms}) GROUP BY w),
    s AS (
        SELECT tf.doc_id, tf.w,
               LN((sc.n - dft.dft + 0.5) / (dft.dft + 0.5) + 1.0)
               * (tf.tf * 2.2
                  / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / sc.avgdl))) AS s
        FROM tf JOIN dl USING (doc_id) JOIN dft USING (w) CROSS JOIN sc),
    p AS (
        SELECT doc_id,
               {sums}
        FROM s GROUP BY doc_id),
    cand AS (
        SELECT doc_id, ROUND(0.0 + {total}, 6) AS bm25
        FROM p ORDER BY bm25 DESC, doc_id LIMIT {n_candidates})"""


def _two_stage_oracle() -> str:
    return rf"""
    WITH {_bm25_ctes()},
    e AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(FLOOR(x * {_GRID}) AS BIGINT)) AS k
        FROM embeddings),
    fb AS (
        SELECT doc_id FROM cand ORDER BY bm25 DESC, doc_id
        LIMIT {_TS_FEEDBACK}),
    qv AS (
        SELECT r.p AS p, SUM(e.k[r.p]) AS v
        FROM fb JOIN e ON fb.doc_id = e.vec_id, range(1, {_DIM + 1}) r(p)
        GROUP BY r.p),
    qvec AS (SELECT list(v ORDER BY p) AS qk FROM qv),
    scored AS (
        SELECT c.doc_id, c.bm25,
               CAST(list_dot_product(
                   list_transform(q.qk, x -> CAST(x AS DOUBLE)),
                   list_transform(e.k, x -> CAST(x AS DOUBLE))) AS BIGINT)
                   AS dense_ip
        FROM cand c JOIN e ON c.doc_id = e.vec_id CROSS JOIN qvec q)
    SELECT doc_id, bm25, dense_ip
    FROM scored
    ORDER BY dense_ip DESC, doc_id
    LIMIT {_TS_FINAL}
    """


@register("q_retrieval_two_stage", oracle=_two_stage_oracle())
def q_retrieval_two_stage(spark, sf_dir):
    """TWO-STAGE retrieval — the modern search topology as one plan:
    stage 1 is lexical candidate generation (BM25 top-50, the
    operators/retrieval.bm25_topk pass — vocabulary-keyed shuffles +
    TakeOrdered), stage 2 re-ranks those 50 by dense inner product
    against a pseudo-relevance-feedback query vector (Rocchio: the SUM
    of the top-3 BM25 documents' embeddings — no human query embedding
    exists in a batch pipeline, so the lexical winners define the
    dense direction).

    Cross-engine exactness: BM25 uses the established per-term
    conditional-sum fold; the rerank is INTEGER-GRID inner product
    (floor-quantized longs; |qk·k| ≤ 64 · 3·(1e6)² ≈ 2e14 < 2^53) —
    rank order is exact on both engines, no cosine/sqrt floats.

    Scale: stage 1's top-50 is a TakeOrdered over the corpus; stage 2
    touches exactly 50 embedding rows via an equi-join on doc_id (a
    partition-pruned point lookup under a vec_id-bucketed layout) and
    one 64-long broadcast query vector. The expensive dense scan never
    runs corpus-wide — that is the entire point of the topology. The
    stage-1 candidate count is the deployment's main knob: recall@k of
    the rerank vs N is MEASURED in PERF.md "Round 6: two-stage
    retrieval", and because ranking is a deterministic total order,
    recall@k(N) = |dense-top-k ∩ candidates(N)|/k — monotone in N (law
    in tests/test_wave40.py)."""
    docs = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")
    return _two_stage_topk(docs, emb)


def _prf_qvec(cand, eg):
    """Pseudo-relevance-feedback query vector (Rocchio): the per-dim SUM
    of the BM25 top-``_TS_FEEDBACK`` documents' integer-grid embeddings,
    as ONE row (qk array<double>, every entry an exact integer). Shared
    by the two-stage rerank and the hybrid retrieval (llm_ops26) so both
    rank along the same dense direction by construction."""
    fb = cand.orderBy(F.col("bm25").desc(), "doc_id").limit(_TS_FEEDBACK)
    qv = (
        fb.join(eg, fb.doc_id == eg.vec_id)
        .select(F.posexplode("k").alias("p", "v"))
        .groupBy("p")
        .agg(F.sum("v").alias("v"))
    )
    return qv.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("p", "v"))),
            lambda s: s.getField("v").cast("double"),
        ).alias("qk")
    )


def _two_stage_topk(
    docs,
    emb,
    n_candidates: int = _TS_CANDIDATES,
    final_k: int = _TS_FINAL,
    cand=None,
):
    """Shared two-stage body (BM25 top-``n_candidates`` → PRF dense
    rerank → top-``final_k``), factored so the candidate-count sweep and
    the recall law test measure the SHIPPED algorithm, not a re-derived
    one. ``cand`` overrides stage 1 with an explicit (doc_id, bm25)
    frame (the law test passes the full corpus)."""
    from incubator_flink_old_spark.operators.retrieval import bm25_topk

    if cand is None:
        cand = bm25_topk(docs, terms=_TS_TERMS, top_k=n_candidates)
    # Candidates are |n_candidates| rows by construction — pin them so
    # stage 1 runs once, not once per downstream consumer.
    cand = cand.localCheckpoint(eager=True)

    eg = emb.select("vec_id", _grid_vec().alias("k"))
    qvec = _prf_qvec(cand, eg)

    from incubator_flink_old_spark.operators.similarity import dot

    scored = (
        cand.join(eg, cand.doc_id == eg.vec_id)
        .crossJoin(F.broadcast(qvec))
        .select(
            "doc_id",
            "bm25",
            dot(
                F.col("qk"),
                F.transform("k", lambda x: x.cast("double")),
            )
            .cast("long")
            .alias("dense_ip"),
        )
    )
    return scored.orderBy(F.col("dense_ip").desc(), "doc_id").limit(final_k)
