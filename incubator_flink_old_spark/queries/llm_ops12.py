"""Training-data pipeline queries, wave 24 (round 5): the Z-ORDER
materialized layout — the multi-dimensional member of the layout family
(band-bucketed join layout → q_dedup_minhash_layout; by-cell partition
layout → q_ann_recall_ivf_layout; space-filling-curve clustering → this
module). A fact table clustered along the Morton curve of (user_id,
event time) keeps parquet row-group min/max tight on BOTH dimensions at
once, so a 2-D rectangle probe — the "this cohort, this week" query
every event store runs — prunes to O(result) row groups instead of
scanning the full table on the un-partitioned dimension.
PERF.md "Round 5: Z-order layout" gives the bytes-read ratio vs a
natural layout at sf0.1; tests/test_wave24.py asserts both range
predicates reach the layout scan as PushedFilters.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from incubator_flink_old_spark.queries import register
from incubator_flink_old_spark.queries._util import dsum, scratch_dir, sql_dsum, t

# Rectangle bounds as integer per-mille fractions of each dimension's
# span — computed with IDENTICAL integer arithmetic on both engines
# (floor division of non-negative BIGINTs), so the probe predicate is
# value-identical in Spark and DuckDB.
_U_LO, _U_HI = 20, 45  # user_id: [20%, 45%] of the id span
_T_LO, _T_HI = 30, 55  # event time: [30%, 55%] of the time span

_ZORDER_ORACLE = f"""
    WITH b AS (
        SELECT MIN(user_id) AS minu, MAX(user_id) AS maxu,
               MIN(epoch_us(ts)) AS mint, MAX(epoch_us(ts)) AS maxt
        FROM events)
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
           {sql_dsum('e.value')} AS total_value
    FROM events e, b
    WHERE e.user_id >= b.minu + ((b.maxu - b.minu) * {_U_LO}) // 100
      AND e.user_id <= b.minu + ((b.maxu - b.minu) * {_U_HI}) // 100
      AND epoch_us(e.ts) >= b.mint + ((b.maxt - b.mint) * {_T_LO}) // 100
      AND epoch_us(e.ts) <= b.mint + ((b.maxt - b.mint) * {_T_HI}) // 100
    GROUP BY e.event_type
    """


def _zorder_write_and_probe(spark, sf_dir):
    """Shared body: build the z-ordered layout, return (probe_df,
    layout_path). Split out so the plan-shape test can assert on the
    exact probe plan the query returns."""
    from incubator_flink_old_spark.operators.layout import write_zordered

    ev = t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        # parquet ts is TIMESTAMP_NTZ; the session tz is pinned UTC
        # (session.py), so the cast is value-stable and unix_micros
        # equals DuckDB's epoch_us on the naive value.
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
        "event_type",
        "value",
    )
    # Bounded driver-side finish (the Bloom-word-array precedent): ONE
    # min/max row steers both the grid and the literal probe bounds —
    # literals are what lets the predicate reach the parquet footer as
    # a PushedFilter; a join-derived bound never prunes at the scan.
    minu, maxu, mint, maxt = ev.agg(
        F.min("user_id"), F.max("user_id"), F.min("t_us"), F.max("t_us")
    ).collect()[0]
    if minu is None:  # empty table: degrade, never throw (house law)
        minu = maxu = mint = maxt = 0
    path = scratch_dir("t2_zorder_") + "/events_z"
    write_zordered(
        ev,
        path,
        dims=[(F.col("user_id"), minu, maxu), (F.col("t_us"), mint, maxt)],
        bits=16,
        n_files=16,
    )
    lo_u = minu + (maxu - minu) * _U_LO // 100
    hi_u = minu + (maxu - minu) * _U_HI // 100
    lo_t = mint + (maxt - mint) * _T_LO // 100
    hi_t = mint + (maxt - mint) * _T_HI // 100
    stored = spark.read.parquet(path)
    probe = stored.filter(
        (F.col("user_id") >= F.lit(lo_u))
        & (F.col("user_id") <= F.lit(hi_u))
        & (F.col("t_us") >= F.lit(lo_t))
        & (F.col("t_us") <= F.lit(hi_t))
    )
    return probe, path


@register("q_zorder_layout", oracle=_ZORDER_ORACLE)
def q_zorder_layout(spark, sf_dir):
    """The MULTI-DIMENSIONAL layout posture as a driver row: events are
    written clustered along the Morton curve of (user_id, event-time) —
    operators/layout.write_zordered, pure Column bit arithmetic, one
    repartitionByRange as the build's only shuffle — and the probe is a
    2-D rectangle (a 25%-of-users × 25%-of-time cohort window) answered
    from the layout with BOTH range predicates pushed to the parquet
    scan (tests/test_wave24.py asserts the PushedFilters; the bytes-read
    ratio vs a natural layout is in PERF.md "Round 5: Z-order layout").
    The aggregate (events, distinct users, decimal-staged value total
    per event type) is value-identical to the plain-scan oracle because
    the layout permutes rows, never changes them; bounds are integer
    floor-division per-mille marks of each dimension's span, replayed
    exactly in SQL. Scale: at 100 TB this is the difference between
    reading O(result) row groups and scanning a week of the full
    firehose for every cohort query."""
    probe, _ = _zorder_write_and_probe(spark, sf_dir)
    return probe.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        dsum("value", "total_value"),
    )


# --------------------------------------------------------------------------
# IVF + PQ composition: coarse-prune to probed cells, rank pruned set by ADC
# --------------------------------------------------------------------------
def _recall_ivfpq_oracle() -> str:
    from incubator_flink_old_spark.queries.llm_ops11 import (
        _N_PROBE,
        _N_QUERIES,
        _TOPK,
        _grid_ivf_ctes,
        _grid_pq_ctes,
        _sql_cos,
        _sql_sqdist,
    )

    ivf_ctes, last_centers = _grid_ivf_ctes()
    pq_ctes, books = _grid_pq_ctes(include_e=False)
    return f"""
    WITH {ivf_ctes},
    {pq_ctes},
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
    qsubs AS (SELECT vec_id AS q_id, j, sv FROM subs
              WHERE vec_id < {_N_QUERIES}),
    dtab AS (
        SELECT q.q_id, q.j, b.cid, {_sql_sqdist('q.sv', 'b.bv')} AS d
        FROM qsubs q JOIN {books} b ON q.j = b.j),
    adist AS (
        SELECT d.q_id, c.vec_id, SUM(d.d) AS ad
        FROM codes c
        JOIN ic ON ic.vec_id = c.vec_id
        JOIN dtab d ON c.j = d.j AND c.code = d.cid AND d.q_id = ic.q_id
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


@register("q_ann_recall_ivfpq", oracle=_recall_ivfpq_oracle())
def q_ann_recall_ivfpq(spark, sf_dir):
    """MEASURED recall@5 for the COMPOSED IVF+PQ pipeline — the actual
    billion-scale ANN configuration (coarse quantizer prunes the corpus
    to probed cells; product-quantized ADC ranks only the pruned set
    from compressed codes; exact full-dimension L2 is the ground truth).
    q_sim_ivfpq_topk drove this composition under a pass/fail contract;
    this row reports the per-query recall NUMBER the n_probe /
    codebook-size trade is tuned by. Every stage — IVF Lloyd rounds, PQ
    per-subspace k-means, encoding, distance tables, ADC sums, exact
    baseline — is integer-grid exact, so the full composition replays
    value-level in one SQL WITH-chain (the _grid_ivf_ctes and
    _grid_pq_ctes builders composed; they share the grid CTE ``e``).
    Scale: the cell probe is an equi-join (partition-pruned under the
    by-cell layout, q_ann_recall_ivf_layout), ADC is a broadcast-dtab
    lookup over m small ints per candidate — memory-resident at any
    corpus size; nothing rescans the full corpus but the one-time
    training/encoding pass."""
    from incubator_flink_old_spark.operators.similarity import (
        grid_adc_topk,
        grid_ivf,
        grid_pq,
        grid_probes,
        grid_quantize,
    )
    from incubator_flink_old_spark.queries.llm_ops11 import (
        _ITERS,
        _N_CELLS,
        _N_PROBE,
        _N_QUERIES,
        _PQ_CENTROIDS,
        _PQ_ITERS,
        _PQ_M,
        _TOPK,
        _recall_vs_exact_l2,
    )

    emb = t(spark, sf_dir, "embeddings")
    cells, centers = grid_ivf(emb, n_cells=_N_CELLS, iters=_ITERS)
    codes, books = grid_pq(
        emb, m=_PQ_M, n_centroids=_PQ_CENTROIDS, iters=_PQ_ITERS
    )
    eg = emb.select("vec_id", grid_quantize("embedding").alias("k"))
    qg = eg.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("k").alias("qk")
    )
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    # coarse prune: candidates = vectors in the probed cells; ADC scores
    # the pruned set only
    cand = (
        grid_probes(queries, centers, n_probe=_N_PROBE)
        .join(cells, on="cell")
        .select("q_id", "vec_id")
    )
    approx_top = grid_adc_topk(qg, codes, books, k=_TOPK, cand=cand).select(
        "q_id", "vec_id"
    )
    return _recall_vs_exact_l2(approx_top, qg, eg)


# --------------------------------------------------------------------------
# Incremental z-order maintenance: base + delta runs, probe-invariant
# --------------------------------------------------------------------------
@register("q_zorder_incremental", oracle=_ZORDER_ORACLE)
def q_zorder_incremental(spark, sf_dir):
    """Layout MAINTENANCE as a driver row — the LSM discipline that makes
    the z-order posture operable at 100 TB: the initial 80% of events
    (deterministic event_id hash-mod split) is written as the base
    Morton layout; the remaining 20% lands later as an APPENDED z-sorted
    delta run in the same directory (operators/layout.append_zordered —
    O(batch) write, base untouched); the probe answers the same 2-D
    rectangle over base+delta with both predicates still pushed to every
    run's footers. Result ≡ q_zorder_layout's oracle (the plain
    full-table filter) because the two runs partition the table exactly
    — a probe is invariant across base / base+delta / compacted layouts
    (the compaction law is pinned in tests/test_wave25.py). Scale: a
    firehose appends z-sorted runs per batch and compacts on a cadence;
    probes never wait for a full-table rewrite."""
    from incubator_flink_old_spark.operators.layout import (
        append_zordered,
        write_zordered,
    )

    ev = t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
        "event_type",
        "value",
    )
    minu, maxu, mint, maxt = ev.agg(
        F.min("user_id"), F.max("user_id"), F.min("t_us"), F.max("t_us")
    ).collect()[0]
    if minu is None:  # empty table: degrade, never throw (house law)
        minu = maxu = mint = maxt = 0
    dims = [(F.col("user_id"), minu, maxu), (F.col("t_us"), mint, maxt)]
    base = ev.filter(F.pmod(F.col("event_id"), F.lit(10)) < 8)
    delta = ev.filter(F.pmod(F.col("event_id"), F.lit(10)) >= 8)
    path = scratch_dir("t2_zorder_inc_") + "/events_z"
    write_zordered(base, path, dims, bits=16, n_files=12)
    append_zordered(delta, path, dims, bits=16, n_files=4)
    lo_u = minu + (maxu - minu) * _U_LO // 100
    hi_u = minu + (maxu - minu) * _U_HI // 100
    lo_t = mint + (maxt - mint) * _T_LO // 100
    hi_t = mint + (maxt - mint) * _T_HI // 100
    stored = spark.read.parquet(path)
    return (
        stored.filter(
            (F.col("user_id") >= F.lit(lo_u))
            & (F.col("user_id") <= F.lit(hi_u))
            & (F.col("t_us") >= F.lit(lo_t))
            & (F.col("t_us") <= F.lit(hi_t))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dsum("value", "total_value"),
        )
    )
