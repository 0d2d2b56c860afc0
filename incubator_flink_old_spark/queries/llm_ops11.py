"""Training-data pipeline queries, wave 22 (round 5): the materialized
band-bucketed near-dup LAYOUT probe (the repo's central 100 TB claim —
O(candidates) re-runs over a layout table — as a driver-checked row with
a zero-exchange candidate join), and the measured ANN-quality surface:
recall@k for sign-bit LSH and for an integer-grid IVF whose ENTIRE Lloyd
iteration is unrolled into the SQL oracle (the q_embed_cov_profile
integer-exactness recipe extended from one aggregation to an iterative
algorithm), plus per-cell label purity over that IVF layout.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from incubator_flink_old_spark.queries import register
from incubator_flink_old_spark.queries._util import scratch_dir, t
from incubator_flink_old_spark.session import staged

# --------------------------------------------------------------------------
# Materialized band-bucketed layout: build once, probe zero-exchange
# --------------------------------------------------------------------------
#: Catalog table the layout query (re)writes; bucket count is the knob a
#: real deployment sizes to cluster width (buckets ≫ executors).
_LAYOUT_TABLE = "t2_layout_bands"
_LAYOUT_BUCKETS = 8


def _minhash_layout_oracle() -> str:
    from incubator_flink_old_spark.queries.llm_ops import _minhash_oracle

    return _minhash_oracle(band_size=4)


@register("q_dedup_minhash_layout", oracle=_minhash_layout_oracle())
def q_dedup_minhash_layout(spark, sf_dir):
    """The 100 TB near-dup POSTURE as a driver row (VERDICT r04 item 7):
    materialize the MinHash band rows ONCE as a catalog table bucketed by
    the candidate-join key (band, bucket), then probe it — the candidate
    self-join runs as a bucketed sort-merge join with NO Exchange on
    either side (tests/test_plan_shapes.py asserts it on this exact
    plan), so re-running near-dup search against a written corpus costs
    O(candidates), never a corpus shuffle. Result ≡ q_dedup_minhash
    (same pairs, same exact-jaccard verify, same oracle): the layout is
    a physical-plan change only. The one repartition before the write is
    the layout's one-time build cost; every probe after it is
    exchange-free."""
    from incubator_flink_old_spark.operators.text import (
        _hashed_set,
        _jaccard_verify,
        _spread_narrow,
        _stage_tokens,
        band_candidates,
        minhash_bands,
    )

    # Stage the distinct-token arrays ONCE (round 13, VERDICT r12 items
    # 3+5): the spread single-split scan is tokenized into a persisted
    # cache; the verify token sets are checkpointed off it FIRST (one
    # job — this also fills the cache at batch width), so the bucketed
    # write's job reads the cache and carries exactly ONE exchange (its
    # own repartition — the r12 entry spread had stacked a second one
    # ahead of it), and the band build derives signatures from the same
    # single tokenize instead of a sigs⋈toksets join's second pass.
    docs = _spread_narrow(t(spark, sf_dir, "documents"))
    # toksets is read by the returned frame, so only the staged
    # tokenize, which the write and the checkpoint consume, is scoped.
    with staged() as st:
        dtoks = st.keep(_stage_tokens(docs, "text", "doc_id").persist())
        toksets = dtoks.select(
            F.col("doc_id").alias("__k"),
            _hashed_set(F.col("__dt")).alias("__toks"),
        ).localCheckpoint(eager=True)
        bands = minhash_bands(docs, num_hashes=8, band_size=4, _dtoks=dtoks)
        # External table at a per-run temp path: a MANAGED bucketed
        # table's warehouse directory survives the session while the
        # catalog entry does not, and the next session's saveAsTable then
        # dies with LOCATION_ALREADY_EXISTS — the unique path sidesteps
        # the stale-dir class entirely, and the DROP covers re-runs
        # within one session.
        spark.sql(f"DROP TABLE IF EXISTS {_LAYOUT_TABLE}")
        path = scratch_dir("t2_layout_") + "/bands"
        (
            bands.repartition(_LAYOUT_BUCKETS, "band", "bucket")
            .write.bucketBy(_LAYOUT_BUCKETS, "band", "bucket")
            .sortBy("band", "bucket")
            .option("path", path)
            .mode("overwrite")
            .saveAsTable(_LAYOUT_TABLE)
        )
    stored = spark.table(_LAYOUT_TABLE)
    cands = band_candidates(stored, 0.7, join_hint="merge")
    return _jaccard_verify(cands, toksets, toksets, 0.7)


# --------------------------------------------------------------------------
# Integer-grid IVF: SQL-unrolled Lloyd iteration (shared oracle builder)
# --------------------------------------------------------------------------
_DIM = 64
_N_CELLS = 8
_ITERS = 2
_N_QUERIES = 20
_TOPK = 5
_N_PROBE = 3


def _sql_cos(a: str, b: str, transform: bool = True) -> str:
    """Cosine over two SQL list expressions; ``transform=True`` casts
    integer lists to double first. Every sum under it is exact (integer
    grid) or fold-order-stable (raw doubles, the q_sim_topk precedent)."""
    if transform:
        a = f"list_transform({a}, x -> CAST(x AS DOUBLE))"
        b = f"list_transform({b}, x -> CAST(x AS DOUBLE))"
        # Grid paths only: a vector that floor-quantizes to all-zeros
        # would make this 0/0 (NaN/NULL rank divergence across engines);
        # the -2.0 sentinel mirrors operators/similarity.cosine_safe.
        return (
            f"(CASE WHEN list_dot_product({a}, {a}) = 0"
            f" OR list_dot_product({b}, {b}) = 0 THEN -2.0"
            f" ELSE list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b}))) END)"
        )
    return (
        f"(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
        f" * sqrt(list_dot_product({b}, {b}))))"
    )


def _grid_ivf_ctes(
    n_cells: int = _N_CELLS,
    iters: int = _ITERS,
    src: str = "embeddings",
    prefix: str = "",
) -> str:
    """CTE chain replaying operators/similarity.grid_ivf exactly:
    ``e`` (vec_id, label, k grid vector) → seeds ``c0`` → per round i an
    assignment ``a{i}`` and truncated-mean centers ``c{i+1}l`` → final
    assignment ``af`` (vec_id, k, label, cell). Every arithmetic step is
    integer-exact on both engines (see grid_ivf's docstring), so the CTE
    chain is a value-level replay, not an approximation. ``src`` swaps
    the training corpus (default: the full embeddings table; the
    incremental-maintenance oracle trains on a filtered base).
    ``prefix`` namespaces every CTE name (``e`` → ``{prefix}e`` etc.) so
    TWO chains — e.g. the drift row's frozen base-train and union
    retrain — compose in one WITH without collisions. The rendered SQL
    is unchanged for the defaults."""

    def n(name: str) -> str:
        return f"{prefix}{name}"

    def assign(aname: str, cname: str) -> str:
        return f"""
    {aname} AS (
        SELECT vec_id, k, label, cell FROM (
            SELECT e.vec_id, e.k, e.label, c.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_sql_cos('e.k', 'c.cv')} DESC, c.cell
                   ) AS rn
            FROM {n('e')} e CROSS JOIN {cname} c) t
        WHERE rn = 1)"""

    parts = [
        f"""
    {n('e')} AS (
        SELECT vec_id, label,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(FLOOR(x * 1000000.0) AS BIGINT)) AS k
        FROM {src}),
    {n('c0')} AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS INTEGER) AS cell,
               k AS cv
        FROM (SELECT vec_id, k FROM {n('e')} ORDER BY vec_id
              LIMIT {n_cells}) s)"""
    ]
    prev = n("c0")
    for i in range(iters):
        parts.append(assign(n(f"a{i}"), prev))
        parts.append(
            f"""
    {n(f'c{i + 1}')} AS (
        SELECT cell, r.j AS j,
               CAST(CAST(SUM(a.k[r.j]) AS BIGINT)
                    // CAST(COUNT(*) AS BIGINT) AS BIGINT) AS v
        FROM {n(f'a{i}')} a, range(1, {_DIM + 1}) r(j)
        GROUP BY cell, r.j),
    {n(f'c{i + 1}l')} AS (
        SELECT cell, list(v ORDER BY j) AS cv
        FROM {n(f'c{i + 1}')} GROUP BY cell)"""
        )
        prev = n(f"c{i + 1}l")
    parts.append(assign(n("af"), prev))
    return ",".join(parts), prev


def _ivf_purity_oracle() -> str:
    ctes, _ = _grid_ivf_ctes()
    return f"""
    WITH {ctes},
    lc AS (
        SELECT cell, label, CAST(COUNT(*) AS BIGINT) AS c
        FROM af GROUP BY cell, label),
    m AS (
        SELECT cell, label, c,
               ROW_NUMBER() OVER (PARTITION BY cell ORDER BY c DESC, label) AS rn,
               CAST(SUM(c) OVER (PARTITION BY cell) AS BIGINT) AS n
        FROM lc)
    SELECT cell, n AS n_vecs, label AS maj_label,
           CAST(c AS DOUBLE) / CAST(n AS DOUBLE) AS purity
    FROM m WHERE rn = 1
    """


@register("q_ivf_cell_purity", oracle=_ivf_purity_oracle())
def q_ivf_cell_purity(spark, sf_dir):
    """Per-cell label purity over the IVF layout (VERDICT r04 item 6):
    assign every embedding to its integer-grid IVF cell, then report per
    cell the population, majority label (ties to the smallest label) and
    purity = majority fraction — the audit that tells an ANN deployment
    whether its coarse quantizer respects semantic structure (pure cells
    ⇒ probing few cells keeps same-label neighbors). The oracle replays
    the ENTIRE k-means — seeds, two Lloyd rounds, truncated-mean
    centroids, final assignment — value-exactly in unrolled SQL; purity
    is a ratio of two exact integers, so the division is bit-identical.
    Scale: purity is one (cell, label) groupBy over the assignment —
    digest-sized shuffles; the assignment itself never shuffles the
    corpus (broadcast centers)."""
    from incubator_flink_old_spark.operators.similarity import grid_ivf

    emb = t(spark, sf_dir, "embeddings")
    cells, _ = grid_ivf(emb, n_cells=_N_CELLS, iters=_ITERS)
    lc = (
        cells.join(emb.select("vec_id", "label"), on="vec_id")
        .groupBy("cell", "label")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wn = Window.partitionBy("cell")
    wr = Window.partitionBy("cell").orderBy(F.col("c").desc(), "label")
    return (
        lc.withColumn("n", F.sum("c").over(wn))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "cell",
            F.col("n").alias("n_vecs"),
            F.col("label").alias("maj_label"),
            (F.col("c").cast("double") / F.col("n").cast("double")).alias(
                "purity"
            ),
        )
    )


def _recall_tail_sql(cand_cte: str) -> str:
    """Shared oracle tail: rank ``{cand_cte}`` (q_id, vec_id candidate
    pairs) by raw-double cosine, take top-k, count overlap with the
    brute-force top-k, emit (q_id, hits, recall)."""
    return f"""
    cv AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    qv AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < {_N_QUERIES}),
    it AS (
        SELECT q_id, vec_id FROM (
            SELECT i.q_id, i.vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY i.q_id
                       ORDER BY {_sql_cos('qv.qv', 'cv.v', transform=False)} DESC,
                                i.vec_id
                   ) AS rn
            FROM {cand_cte} i
            JOIN qv ON i.q_id = qv.q_id
            JOIN cv ON i.vec_id = cv.vec_id) t
        WHERE rn <= {_TOPK}),
    bt AS (
        SELECT q_id, vec_id FROM (
            SELECT q.q_id, c.vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.q_id
                       ORDER BY {_sql_cos('q.qv', 'c.v', transform=False)} DESC,
                                c.vec_id
                   ) AS rn
            FROM qv q CROSS JOIN cv c) t
        WHERE rn <= {_TOPK})
    SELECT b.q_id,
           CAST(COUNT(i.vec_id) AS BIGINT) AS hits,
           CAST(COUNT(i.vec_id) AS DOUBLE) / {_TOPK}.0 AS recall
    FROM bt b
    LEFT JOIN it i ON b.q_id = i.q_id AND b.vec_id = i.vec_id
    GROUP BY b.q_id
    """


def _recall_vs_brute(cand, queries, emb):
    """Rank candidate (q_id, vec_id) pairs by raw-double cosine, take
    top-k, count the overlap with brute-force top-k → (q_id, hits,
    recall). The Spark twin of ``_recall_tail_sql``."""
    from incubator_flink_old_spark.operators.similarity import (
        brute_force_topk,
        cosine_rerank_topk,
    )

    approx_top = cosine_rerank_topk(cand, queries, emb, k=_TOPK).select(
        "q_id", "vec_id"
    )
    brute = brute_force_topk(queries, emb, k=_TOPK).select("q_id", "vec_id")
    return (
        brute.join(
            approx_top.withColumn("__hit", F.lit(1)),
            on=["q_id", "vec_id"],
            how="left",
        )
        .groupBy("q_id")
        .agg(
            F.count("__hit").alias("hits"),
            (F.count("__hit").cast("double") / F.lit(float(_TOPK))).alias(
                "recall"
            ),
        )
    )


def _recall_ivf_oracle() -> str:
    ctes, last_centers = _grid_ivf_ctes()
    return f"""
    WITH {ctes},
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
    {_recall_tail_sql('ic')}
    """


@register("q_ann_recall_ivf", oracle=_recall_ivf_oracle())
def q_ann_recall_ivf(spark, sf_dir):
    """MEASURED IVF recall@5 (VERDICT r04 item 6) — not a pass/fail
    contract like q_sim_ivf_topk but the actual per-query recall number
    an ANN deployment tunes n_probe against: for each of 20 query
    vectors, how many of the exact brute-force top-5 the IVF search
    (integer-grid quantizer, 3 of 8 cells probed) retrieves. The whole
    pipeline — k-means training included — replays value-exactly in the
    SQL twin via the unrolled integer-grid CTEs; within-cell and
    brute-force ranking use raw double cosine (the q_sim_topk fold-order
    precedent). The query vector itself counts as a (trivial) hit in
    both rankings, consistently on both sides. Scale: probe pruning is
    an equi-join on cell — partition-pruned under a by-cell layout
    (q_ann_recall_ivf_layout driver-checks exactly that)."""
    from incubator_flink_old_spark.operators.similarity import (
        grid_ivf,
        grid_probes,
    )

    emb = t(spark, sf_dir, "embeddings")
    cells, centers = grid_ivf(emb, n_cells=_N_CELLS, iters=_ITERS)
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    probes = grid_probes(queries, centers, n_probe=_N_PROBE)
    cand = probes.join(cells, on="cell").select("q_id", "vec_id")
    return _recall_vs_brute(cand, queries, emb)


def _recall_lsh_oracle() -> str:
    bkt = " + ".join(
        f"(CASE WHEN embedding[{i + 1}] > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(4)
    )
    return f"""
    WITH s AS (
        SELECT vec_id, {bkt} AS bkt FROM embeddings),
    qs AS (SELECT vec_id AS q_id, bkt FROM s WHERE vec_id < {_N_QUERIES}),
    lc AS (
        SELECT q.q_id, c.vec_id
        FROM qs q JOIN s c ON q.bkt = c.bkt),
    {_recall_tail_sql('lc')}
    """


@register("q_ann_recall_lsh", oracle=_recall_lsh_oracle())
def q_ann_recall_lsh(spark, sf_dir):
    """MEASURED sign-bit-LSH recall@5: per query vector, how many of the
    exact brute-force top-5 survive restricting search to the query's
    4-bit sign bucket (1/16 of the corpus in expectation) — the
    recall/cost trade every hash-bucketed ANN tier is sized by, as a
    value (hits, recall), fully SQL-checkable since the bucket recipe is
    deterministic bit arithmetic. Complements q_ann_recall_ivf: same
    measurement contract, hash-partitioned instead of learned cells.
    Scale: the candidate join is an equi-join on bucket."""
    from incubator_flink_old_spark.operators.similarity import (
        as_double_array,
        brute_force_topk,
        cosine,
        lsh_bucket,
    )

    emb = t(spark, sf_dir, "embeddings")
    s = emb.select(
        "vec_id",
        as_double_array("embedding").alias("v"),
        lsh_bucket(as_double_array("embedding"), 4).alias("bkt"),
    )
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    qs = s.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), "bkt"
    )
    lsh_top = (
        F.broadcast(qs)
        .join(s, on="bkt")
        .select("q_id", "vec_id", cosine(F.col("qv"), F.col("v")).alias("cos"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(
                    F.col("cos").desc(), "vec_id"
                )
            ),
        )
        .filter(F.col("rn") <= _TOPK)
        .select("q_id", "vec_id")
    )
    brute = brute_force_topk(queries, emb, k=_TOPK).select("q_id", "vec_id")
    return (
        brute.join(lsh_top.withColumn("__hit", F.lit(1)), on=["q_id", "vec_id"], how="left")
        .groupBy("q_id")
        .agg(
            F.count("__hit").alias("hits"),
            (F.count("__hit").cast("double") / F.lit(float(_TOPK))).alias(
                "recall"
            ),
        )
    )


# --------------------------------------------------------------------------
# Custom-state streaming operator ⇄ batch parity (the applyInPandasWithState
# surface gets a driver row)
# --------------------------------------------------------------------------

#: Session gap and watermark of the custom-state parity row, shared by
#: the Spark call and every constant in the oracle below.
_CS_GAP_S = 300
_CS_WM_MS = 600_000

_CUSTOM_STATE_ORACLE = f"""
    WITH ev AS (
        SELECT user_id, event_id, value,
               CAST(epoch(ts) AS DOUBLE) AS ep
        FROM events),
    wm AS (SELECT (epoch_us(MAX(ts)) // 1000) - {_CS_WM_MS} AS wm_ms
           FROM events),
    flagged AS (
        SELECT user_id, ep, value, event_id,
               CASE WHEN ep - LAG(ep) OVER w > {_CS_GAP_S}.0
                    OR LAG(ep) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ep, event_id)),
    s AS (
        SELECT user_id, ep, value, event_id,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ep, event_id
                   ROWS UNBOUNDED PRECEDING
               ) AS sid
        FROM flagged),
    agg AS (
        SELECT user_id, sid,
               MIN(ep) AS session_start,
               MAX(ep) AS session_end,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               list_reduce(list(value ORDER BY ep, event_id),
                           (acc, x) -> acc + x) AS total_value
        FROM s GROUP BY user_id, sid),
    ranked AS (
        SELECT a.*, ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY sid DESC) AS rnk,
               wm.wm_ms
        FROM agg a CROSS JOIN wm)
    SELECT user_id, session_start, session_end, n_events, total_value
    FROM ranked
    WHERE rnk > 1
       OR CAST(FLOOR(session_end * 1000) AS BIGINT) + {_CS_GAP_S * 1000}
          < wm_ms
    """


@register("q_stream_custom_state_parity", oracle=_CUSTOM_STATE_ORACLE)
def q_stream_custom_state_parity(spark, sf_dir):
    """CUSTOM stateful streaming operator ⇄ batch parity — the
    applyInPandasWithState surface (user-managed per-key state, the
    extension point for operators Spark's built-ins can't express) gets
    an oracle-checked driver row, upgrading it from pytest-only
    coverage. streaming.stateful_session_stats replays the events as a
    stream and emits (a) every session CLOSED by a later same-user event
    and (b) open sessions whose event-time timeout fired — i.e. whose
    ms-truncated last-event time + gap fell strictly below the final
    watermark (max event ms − 10 min). The oracle replays both rules in
    batch SQL with IDENTICALLY-STAGED arithmetic: session boundaries
    compare the same micros/1e6 DOUBLE epochs the Arrow worker sees (not
    exact interval arithmetic — a ±2e-7 s ulp near the gap boundary
    would otherwise diverge), the timeout threshold floors the same
    double product the worker's int(last*1000) truncates, and
    total_value is a strict left fold in (epoch, event_id) order on both
    sides (list_reduce ⇄ the worker's sequential accumulation — the
    q_ewma precedent). Scale: state is one row per open session per
    user, watermark-bounded."""
    from incubator_flink_old_spark.streaming import (
        read_events_stream,
        stateful_session_stats,
        stream_result,
    )

    ev = read_events_stream(spark, sf_dir)
    out = stateful_session_stats(
        ev, gap_seconds=_CS_GAP_S, watermark="10 minutes"
    )
    # state_partitions=16: Python-worker-bound pandas-state row keyed
    # by user_id (the q_stream_cdc_parity sweep rationale, round 13).
    return stream_result(out, "append", state_partitions=16)


# --------------------------------------------------------------------------
# Multimodal frame sampling ⇄ SQL twin (W7 multimodal surface, 2nd row)
# --------------------------------------------------------------------------
@register(
    "q_multimodal_frames",
    oracle="""
    SELECT d.doc_id AS media_id,
           v.i AS frame_idx,
           CAST(v.i * 1000 AS BIGINT) AS frame_ms,
           ROUND(('0x' || substr(
               md5(md5(d.text || '|frame' || v.i)), 1, 2))::INT / 255.0,
               9) AS f1
    FROM documents d
    CROSS JOIN (VALUES (0), (1), (2)) v(i)
    """,
)
def q_multimodal_frames(spark, sf_dir):
    """Multimodal frame-sampling plumbing end-to-end (the 1→N media
    explode): every payload becomes duration/every_ms frame rows
    (frame_idx, frame_ms, per-frame features) through the Arrow-batched
    worker — the contract a video pipeline runs per clip. The
    deterministic fake featurizer is the md5 hex chain over
    payload|frame<idx>, so the whole path INCLUDING the Python/Arrow
    boundary and the per-frame seed derivation is value-checked against
    a DuckDB twin (the q_multimodal_pipeline recipe, extended to the
    exploded shape); a real codec plugs into the same path
    (operators/multimodal.sample_frames). Scale: mapInPandas, map-only —
    no shuffle; frames inherit the payload partitioning."""
    from incubator_flink_old_spark.operators.multimodal import (
        attach_media,
        sample_frames,
    )

    docs = t(spark, sf_dir, "documents")
    media = attach_media(
        docs, F.encode("text", "UTF-8"), "video", "video/fake", "doc_id"
    )
    frames = sample_frames(media, every_ms=1000, fake=True)
    return frames.select(
        "media_id",
        "frame_idx",
        "frame_ms",
        F.round(F.element_at("features", 1), 9).alias("f1"),
    )


@register("q_ann_recall_ivf_layout", oracle=_recall_ivf_oracle())
def q_ann_recall_ivf_layout(spark, sf_dir):
    """The ANN 100 TB POSTURE as a driver row — the by-cell twin of
    q_dedup_minhash_layout: the corpus is WRITTEN partitioned by its IVF
    cell (`partitionBy("cell")` parquet — at scale, the one-time layout
    build), and the probe joins the tiny (q_id, cell) probe set against
    that layout so Spark's dynamic partition pruning turns the scan into
    a probed-cells-only read (`PartitionFilters: [dynamicpruning...]` —
    tests/test_plan_shapes.py asserts it on this plan). Result ≡
    q_ann_recall_ivf (same oracle): the layout is a physical change
    only; a billion-vector deployment re-runs queries at O(probed
    cells), never a corpus scan."""
    from incubator_flink_old_spark.operators.similarity import (
        grid_ivf,
        grid_probes,
    )

    emb = t(spark, sf_dir, "embeddings")
    cells, centers = grid_ivf(emb, n_cells=_N_CELLS, iters=_ITERS)
    path = scratch_dir("t2_ivf_layout_") + "/by_cell"
    (
        emb.join(cells, on="vec_id")
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(path)
    )
    stored = spark.read.parquet(path)
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    probes = grid_probes(queries, centers, n_probe=_N_PROBE)
    cand = stored.join(probes, on="cell").select("q_id", "vec_id")
    return _recall_vs_brute(cand, queries, emb)


# --------------------------------------------------------------------------
# Integer-grid PQ: SQL-unrolled per-subspace k-means + ADC search
# --------------------------------------------------------------------------
_PQ_M = 4
_PQ_SUB = _DIM // _PQ_M
_PQ_CENTROIDS = 8
_PQ_ITERS = 1


def _sql_sqdist(a: str, b: str) -> str:
    """Exact integer squared-L2 via the dot identity (grid_sqdist's SQL
    twin): every operand is an integer-valued double < 2^53."""
    da = f"list_transform({a}, x -> CAST(x AS DOUBLE))"
    db = f"list_transform({b}, x -> CAST(x AS DOUBLE))"
    return (
        f"(list_dot_product({da}, {da}) - 2 * list_dot_product({da}, {db})"
        f" + list_dot_product({db}, {db}))"
    )


def _grid_pq_ctes(include_e: bool = True) -> tuple[str, str]:
    """CTE chain replaying operators/similarity.grid_pq exactly: ``subs``
    (per-vector subspace slices) → seeds ``b0`` → per round an
    assignment and truncated-mean codebooks → final ``codes``. Returns
    (ctes, final_codebook_cte). ``include_e=False`` omits the ``e``
    grid CTE so the chain composes with _grid_ivf_ctes' richer ``e``
    (same vec_id/k columns plus label) in one WITH — the IVF+PQ
    composition query rides exactly that."""

    def assign(aname: str, bname: str) -> str:
        return f"""
    {aname} AS (
        SELECT vec_id, j, sv, cid AS code FROM (
            SELECT vec_id, j, sv, cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id, j ORDER BY d, cid) AS rn
            FROM (
                SELECT s.vec_id, s.j, s.sv, b.cid,
                       {_sql_sqdist('s.sv', 'b.bv')} AS d
                FROM subs s JOIN {bname} b ON s.j = b.j) t0) t1
        WHERE rn = 1)"""

    e_cte = """
    e AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(FLOOR(x * 1000000.0) AS BIGINT)) AS k
        FROM embeddings),"""
    parts = [
        f"""{e_cte if include_e else ''}
    subs AS (
        SELECT vec_id, r.j AS j,
               list_slice(k, r.j * {_PQ_SUB} + 1, r.j * {_PQ_SUB} + {_PQ_SUB}) AS sv
        FROM e, range(0, {_PQ_M}) r(j)),
    b0 AS (
        SELECT j, CAST(rn AS INTEGER) AS cid, sv AS bv FROM (
            SELECT j, sv,
                   ROW_NUMBER() OVER (PARTITION BY j ORDER BY vec_id) AS rn
            FROM subs) t
        WHERE rn <= {_PQ_CENTROIDS})"""
    ]
    prev = "b0"
    for i in range(_PQ_ITERS):
        parts.append(assign(f"pa{i}", prev))
        parts.append(
            f"""
    b{i + 1} AS (
        SELECT j, code AS cid, r.p AS p,
               CAST(CAST(SUM(a.sv[r.p]) AS BIGINT)
                    // CAST(COUNT(*) AS BIGINT) AS BIGINT) AS v
        FROM pa{i} a, range(1, {_PQ_SUB + 1}) r(p)
        GROUP BY j, code, r.p),
    b{i + 1}l AS (
        SELECT j, cid, list(v ORDER BY p) AS bv
        FROM b{i + 1} GROUP BY j, cid)"""
        )
        prev = f"b{i + 1}l"
    parts.append(assign("codes", prev))
    return ",".join(parts), prev


def _recall_pq_oracle() -> str:
    ctes, prev = _grid_pq_ctes()
    return f"""
    WITH {ctes},
    qsubs AS (SELECT vec_id AS q_id, j, sv FROM subs
              WHERE vec_id < {_N_QUERIES}),
    dtab AS (
        SELECT q.q_id, q.j, b.cid, {_sql_sqdist('q.sv', 'b.bv')} AS d
        FROM qsubs q JOIN {prev} b ON q.j = b.j),
    adist AS (
        SELECT d.q_id, c.vec_id, SUM(d.d) AS ad
        FROM codes c JOIN dtab d ON c.j = d.j AND c.code = d.cid
        GROUP BY d.q_id, c.vec_id),
    it AS (
        SELECT q_id, vec_id FROM (
            SELECT q_id, vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q_id ORDER BY ad, vec_id) AS rn
            FROM adist) t
        WHERE rn <= {_TOPK}),
    bt AS (
        SELECT q_id, vec_id FROM (
            SELECT q.vec_id AS q_id, c.vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_sql_sqdist('q.k', 'c.k')}, c.vec_id) AS rn
            FROM e q CROSS JOIN e c WHERE q.vec_id < {_N_QUERIES}) t
        WHERE rn <= {_TOPK})
    SELECT b.q_id,
           CAST(COUNT(i.vec_id) AS BIGINT) AS hits,
           CAST(COUNT(i.vec_id) AS DOUBLE) / {_TOPK}.0 AS recall
    FROM bt b
    LEFT JOIN it i ON b.q_id = i.q_id AND b.vec_id = i.vec_id
    GROUP BY b.q_id
    """


def _recall_vs_exact_l2(approx_top, qg, eg):
    """Count the overlap of approximate (q_id, vec_id) top-k pairs with
    the exact top-k by full-dimension integer squared L2 over the grid
    vectors → (q_id, hits, recall): the PQ recall rows' shared tail
    (``qg`` = (q_id, qk) queries, ``eg`` = (vec_id, k) corpus)."""
    from incubator_flink_old_spark.operators.similarity import (
        as_double_array,
        grid_sqdist,
    )

    exact_top = (
        F.broadcast(qg)
        .crossJoin(eg)
        .select(
            "q_id",
            "vec_id",
            grid_sqdist(as_double_array("qk"), as_double_array("k")).alias("d"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy("d", "vec_id")
            ),
        )
        .filter(F.col("rn") <= _TOPK)
        .select("q_id", "vec_id")
    )
    return (
        exact_top.join(
            approx_top.withColumn("__hit", F.lit(1)),
            on=["q_id", "vec_id"],
            how="left",
        )
        .groupBy("q_id")
        .agg(
            F.count("__hit").alias("hits"),
            (F.count("__hit").cast("double") / F.lit(float(_TOPK))).alias(
                "recall"
            ),
        )
    )


@register("q_ann_recall_pq", oracle=_recall_pq_oracle())
def q_ann_recall_pq(spark, sf_dir):
    """MEASURED PQ recall@5 — the compression-accuracy trade of
    product-quantized search as a value: each vector is reduced to m=4
    subspace codes (64× smaller than the float payload), queries scan
    the compressed codes via ADC (per-subspace distance tables, lookup
    sums), and the row reports how many of the exact top-5 survive. The
    ENTIRE pipeline — per-subspace k-means training, encoding, distance
    tables, ADC sums, and the exact-L2 baseline — is integer-grid exact
    (squared L2 on floor-quantized vectors; truncated-mean centroids),
    so the SQL oracle replays it value-level, extending the grid_ivf
    recipe to the operators/similarity.grid_pq product quantizer. The
    exact baseline ranks by full-dimension integer squared L2, so both
    rankings live in the same metric. Scale: ADC is a broadcast-dtab
    scan over m small ints per vector — the memory-resident rerank tier
    at billion scale."""
    from incubator_flink_old_spark.operators.similarity import (
        grid_adc_topk,
        grid_pq,
        grid_quantize,
    )

    emb = t(spark, sf_dir, "embeddings")
    codes, books = grid_pq(
        emb, m=_PQ_M, n_centroids=_PQ_CENTROIDS, iters=_PQ_ITERS
    )
    eg = emb.select("vec_id", grid_quantize("embedding").alias("k"))
    qg = eg.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("k").alias("qk")
    )
    approx_top = grid_adc_topk(qg, codes, books, k=_TOPK).select(
        "q_id", "vec_id"
    )
    return _recall_vs_exact_l2(approx_top, qg, eg)
