"""Training-data pipeline queries, wave 40 (round 6, VERDICT r05 items
3-4): the last cell of the ANN tier matrix — SQ8 composed WITH the IVF
probe prune, so the search is simultaneously partition-pruned (probed
cells only) and 4-byte-code-scanned — and the streaming AS-OF
enrichment (the canonical feature-store join, native in neither the
reference nor Spark), exercising the custom-state surface beyond
sessionization with the llm_ops11 identical-arithmetic oracle
discipline.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from incubator_flink_old_spark.queries import register
from incubator_flink_old_spark.queries._util import t


# --------------------------------------------------------------------------
# IVF × SQ8: coarse-prune to probed cells, rank the pruned set by int8 codes
# --------------------------------------------------------------------------
def _recall_ivfsq8_oracle(n_probe: int | None = None) -> str:
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

    n_probe = _N_PROBE if n_probe is None else n_probe
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
        WHERE rn <= {n_probe}),
    ic AS (
        SELECT p.q_id, a.vec_id
        FROM pr p JOIN af a ON p.cell = a.cell),
    it AS (
        SELECT q_id, vec_id FROM (
            SELECT ic.q_id, ic.vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY ic.q_id
                       ORDER BY {_sq_sql_sqdist('qc.code', 'cc.code')},
                                ic.vec_id) AS rn
            FROM ic
            JOIN codes cc ON ic.vec_id = cc.vec_id
            JOIN codes qc ON qc.vec_id = ic.q_id) t
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


def _ivfsq8_recall_df(spark, sf_dir, n_probe: int | None = None):
    """Shared body of q_ann_recall_ivfsq8; the composition LAW test
    calls it with n_probe=n_cells (all cells probed ≡ plain SQ8)."""
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
    from incubator_flink_old_spark.queries.llm_ops18 import (
        _grid_vec,
        _sq_codes,
    )

    n_probe = _N_PROBE if n_probe is None else n_probe
    emb = t(spark, sf_dir, "embeddings")
    cells, centers = grid_ivf(emb, n_cells=_N_CELLS, iters=_ITERS)
    eg = emb.select("vec_id", _grid_vec().alias("k"))
    codes = _sq_codes(eg)
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    # coarse prune: candidates = vectors in each query's probed cells
    probes = grid_probes(queries, centers, n_probe=n_probe)
    cand = probes.join(cells, on="cell").select("q_id", "vec_id")
    # rank the pruned set by int8-code distance (ONE equi-join on
    # vec_id; the tiny query-code side broadcasts)
    qcodes = codes.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("code").alias("qcode")
    )
    scored = (
        cand.join(codes, on="vec_id")
        .join(F.broadcast(qcodes), on="q_id")
        .select(
            "q_id",
            "vec_id",
            grid_sqdist(F.col("qcode"), F.col("code")).alias("d"),
        )
    )
    w = Window.partitionBy("q_id").orderBy("d", "vec_id")
    it = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOPK)
        .select(F.col("q_id").alias("iq"), F.col("vec_id").alias("ivec"))
    )
    # exact full-precision ground truth (same as q_ann_recall_sq8's)
    kd = eg.select(
        "vec_id", F.transform("k", lambda x: x.cast("double")).alias("kd")
    )
    qk = kd.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("kd").alias("qv")
    )
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
    return (
        bt.join(it, (bt.q_id == it.iq) & (bt.vec_id == it.ivec), "left")
        .groupBy("q_id")
        .agg(
            F.count("ivec").alias("hits"),
            (F.count("ivec").cast("double") / _TOPK).alias("recall"),
        )
    )


@register("q_ann_recall_ivfsq8", oracle=_recall_ivfsq8_oracle())
def q_ann_recall_ivfsq8(spark, sf_dir):
    """MEASURED recall@5 for the COMPOSED IVF+SQ8 pipeline — the last
    cell of the ANN tier matrix (IVF×PQ landed r04, plain SQ8 r05): the
    coarse quantizer prunes the corpus to each query's probed cells AND
    the pruned candidates are ranked from 4-byte-per-dim int8 codes, so
    at 100 TB the probe reads only probed-cell partitions (the
    q_ann_recall_ivf_layout partition-prune) and scans them at 8× fewer
    bytes than the double grid — the two wins multiply. Quantizer and
    prune reuse the family's exact integer arithmetic (llm_ops18's SQ8
    encoder, llm_ops11's grid-IVF Lloyd CTEs), so the full composition
    replays value-level in one SQL WITH-chain. The composition LAW —
    probing ALL cells makes this identical to plain SQ8 — is pinned by
    tests/test_wave40.py (the q_sim_ivfpq_topk precedent).

    Scale shape: cell probe = equi-join against the by-cell layout
    (partition-pruned scan, never a corpus shuffle); the per-dim (lo,
    hi) quantizer table is one 64-row broadcast; code ranking is a
    candidate-bounded equi-join with the 20-row query-code side
    broadcast; ground-truth brute force exists only in the measurement
    harness, bounded to the 20-query sample."""
    return _ivfsq8_recall_df(spark, sf_dir)


# --------------------------------------------------------------------------
# Streaming AS-OF enrichment ⇄ batch last_value twin
# --------------------------------------------------------------------------
_ASOF_ORACLE = """
    WITH ev AS (
        SELECT user_id, event_id,
               CAST(epoch(ts) AS DOUBLE) AS ep,
               event_type,
               CASE WHEN event_type = 'click' THEN event_id END AS cid,
               CASE WHEN event_type = 'click'
                    THEN CAST(epoch(ts) AS DOUBLE) END AS cep
        FROM events WHERE event_type IN ('click', 'purchase')),
    filled AS (
        SELECT user_id, event_id, ep, event_type,
               LAST_VALUE(cid IGNORE NULLS) OVER w AS asof_seq,
               LAST_VALUE(cep IGNORE NULLS) OVER w AS asof_ts
        FROM ev
        WINDOW w AS (
            PARTITION BY user_id ORDER BY ep, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
    SELECT user_id, event_id, ep, asof_seq, asof_ts
    FROM filled WHERE event_type = 'purchase'
    """


@register("q_stream_asof_parity", oracle=_ASOF_ORACLE)
def q_stream_asof_parity(spark, sf_dir):
    """Streaming AS-OF enrichment ⇄ batch parity — the canonical
    feature-store join (each purchase enriched with the user's latest
    strictly-preceding click) as a REAL multi-batch stream through the
    custom-state operator streaming.stateful_asof_enrich, value-checked
    against the batch as-of's last_value(ignore nulls) window twin
    (q_asof_join's shape). Spark has no native streaming as-of operator;
    this is a genuine engine extension over applyInPandasWithState
    beyond sessionization (VERDICT r05 item 4).

    Replay contract: the events land as FOUR parquet files split by
    event-time quarter (a pure ts predicate, so equal-ts rows never
    straddle a boundary) with mtimes forced apart — the file source then
    delivers each key's rows in nondecreasing (ts, event_id) order
    across microbatches, which is exactly the in-order delivery a
    log-compacted feature topic provides; the operator sorts within each
    batch. State genuinely crosses batches: a click in batch 0 must
    enrich a purchase in batch 3. Identical-arithmetic oracle: both
    sides compare the same micros/1e6 DOUBLE epochs (computed Spark-side
    before the Arrow boundary), and NULL enrichment (purchase before any
    click) crosses Arrow as pandas nullable Int64/Float64 — NaN would
    hash-diverge from SQL NULL.

    Scale: state is ONE row per key (the latest feature version),
    updated in place — O(keys) forever; output is append-mode rows, no
    rescan. Production adds an event-time timeout to expire idle keys
    and a by-key topic partitioning so the groupBy shuffle is a no-op.
    """
    from incubator_flink_old_spark.streaming import (
        replay_source,
        stateful_asof_enrich,
        stream_result,
    )

    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            "user_id",
            "event_id",
            F.col("ts").cast("timestamp").cast("double").alias("ep"),
            "event_type",
        )
    )
    lo, hi = ev.agg(F.min("ep"), F.max("ep")).collect()[0]  # 1-row bound
    cuts = [lo + (hi - lo) * i / 4.0 for i in (1, 2, 3)]
    batches = (
        ev.filter(F.col("ep") < cuts[0]),
        ev.filter((F.col("ep") >= cuts[0]) & (F.col("ep") < cuts[1])),
        ev.filter((F.col("ep") >= cuts[1]) & (F.col("ep") < cuts[2])),
        ev.filter(F.col("ep") >= cuts[2]),
    )
    with replay_source(b.repartition(1) for b in batches) as stream:
        # state_partitions=16: Python-worker-bound pandas-state row —
        # measured sweep 4/8/16/32 -> 5.2/4.2/3.8/4.5 s on this shape
        # (round 13; the q_stream_cdc_parity rationale).
        emitted = stream_result(
            stateful_asof_enrich(stream), "append", state_partitions=16
        )
    return emitted.select(
        "user_id", "event_id", "ep", "asof_seq", "asof_ts"
    )
