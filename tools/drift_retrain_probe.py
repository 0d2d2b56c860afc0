"""Drift-triggered retrain demo (VERDICT r07 item 6): the maintenance
family EMITS drift audits — q_ivf_incremental's per-cell
(n_base, n_delta, frac_delta), q_sq8_incremental's per-dim clamp counts
— but round 7 shipped nothing that CONSUMES them. This tool closes the
operational loop: absorb a deliberately-SKEWED delta with the frozen
index, read the same audits the queries emit, trip the documented
thresholds, retrain, and print ANN recall on the drifted region before
vs after — the number that justifies when the flat-cost absorb path
must hand over to the corpus-cost retrain path.

Scenario: base = fixture embeddings; delta = a 20%-sized batch SHIFTED
by a constant offset (a new data source whose distribution walked away
from the training corpus — the classic drift case). Queries are drawn
from the DELTA (the region users will actually search next), ground
truth is exact full-precision top-k over the union.

Pipelines compared (both the SHIPPED operators):
- absorb: frozen base centers (grid_assign_map delta) + frozen base SQ8
  bounds (clamped delta encode) → IVF+SQ8+refine retrieval.
- retrain: Lloyd on the union + union bounds → same retrieval.

Thresholds (the demo's policy, printed alongside the audit values):
retrain when clamp_frac > 0.02 (2% of delta (dim, value) encodings hit
a frozen boundary) OR max-cell frac_delta > 3x the corpus-wide delta
fraction (the delta is piling into one cell — the frozen partition no
longer separates it).

Usage: python tools/drift_retrain_probe.py [SHIFT] (default 0.35 ~ the
fixture's full value range — a hard drift). Quiet box if quoted.
"""

from __future__ import annotations

import os
import sys
import time

from pyspark.sql import Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

K = 5
N_QUERIES = 20
CLAMP_THRESHOLD = 0.02
CELL_SKEW_THRESHOLD = 3.0


def _recall(spark, union_eg, cells, centers, codes, bounds, queries):
    """recall@K of the shipped IVF(+probe)+SQ8+refine chain over the
    given index artifacts, measured on `queries` (q_id, k) against the
    exact full-precision top-K over the union."""
    from incubator_flink_old_spark.operators.similarity import (
        grid_probes,
        grid_sqdist,
    )
    from incubator_flink_old_spark.queries.llm_ops11 import _N_PROBE
    from incubator_flink_old_spark.queries.llm_ops26 import _REFINE_C

    qk = queries.select(
        F.col("q_id"),
        F.transform("k", lambda x: x.cast("double")).alias("qv"),
    )
    # probe cells with the raw query vector (same machinery as the
    # registered rows: cosine over the grid vector vs centers)
    probes = grid_probes(queries, centers, n_probe=_N_PROBE, vec="emb")
    cand = probes.join(cells, on="cell").select("q_id", "vec_id")
    qcodes = _encode_query_codes(qk, bounds)
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
        .filter(F.col("rn") <= _REFINE_C)
        .select("q_id", "vec_id")
    )
    kd = union_eg.select(
        "vec_id", F.transform("k", lambda x: x.cast("double")).alias("kd")
    )
    w = Window.partitionBy("q_id").orderBy("d", "vec_id")
    it = (
        shortlist.join(kd, on="vec_id")
        .join(F.broadcast(qk), on="q_id")
        .select(
            "q_id", "vec_id", grid_sqdist(F.col("qv"), F.col("kd")).alias("d")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= K)
        .select("q_id", "vec_id")
    )
    bt = (
        F.broadcast(qk)
        .crossJoin(kd.select("vec_id", F.col("kd").alias("cv")))
        .select(
            "q_id", "vec_id", grid_sqdist(F.col("qv"), F.col("cv")).alias("d")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= K)
        .select(F.col("q_id").alias("bq"), F.col("vec_id").alias("bvec"))
    )
    hits = bt.join(
        it, (bt.bq == it.q_id) & (bt.bvec == it.vec_id)
    ).count()
    total = bt.count()
    return hits / total


def _encode_query_codes(qk, bounds):
    """Encode query grid vectors against the given bounds (clamped) —
    the symmetric code the refine family's stage-A scan compares."""
    from incubator_flink_old_spark.queries.llm_ops18 import _SQ_LEVELS

    dims = qk.select(
        "q_id", F.posexplode("qv").alias("p0", "v")
    ).select(
        "q_id",
        (F.col("p0") + 1).alias("p"),
        F.col("v").cast("long").alias("v"),  # integral grid doubles
    )
    c = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.expr(f"CAST((v - lo) * {_SQ_LEVELS} div (hi - lo) AS BIGINT)")
    )
    c = F.least(
        F.greatest(c, F.lit(0).cast("long")), F.lit(_SQ_LEVELS).cast("long")
    )
    qd = dims.join(F.broadcast(bounds), on="p").select(
        "q_id", "p", c.alias("c")
    )
    return qd.groupBy("q_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("p", "c"))),
            lambda s: s.getField("c").cast("double"),
        ).alias("qcode")
    )


def main() -> None:
    shift = float(sys.argv[1]) if len(sys.argv) > 1 else 0.35
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from incubator_flink_old_spark import get_spark
    from incubator_flink_old_spark.operators.similarity import (
        grid_assign_map,
        grid_ivf,
    )
    from incubator_flink_old_spark.queries.llm_ops11 import _ITERS, _N_CELLS
    from incubator_flink_old_spark.queries.llm_ops18 import (
        _grid_vec,
        _sq_bounds,
        _sq_codes,
    )
    from incubator_flink_old_spark.sources import load_table

    spark = get_spark("drift-retrain-probe")
    emb = load_table(spark, sf_dir, "embeddings")
    max_vec = emb.agg(F.max("vec_id")).first()[0] + 1

    base = emb.filter(F.col("vec_id") % 5 != 4).select("vec_id", "embedding")
    delta = emb.filter(F.col("vec_id") % 5 == 4).select(
        (F.col("vec_id") + max_vec).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(shift)).alias(
            "embedding"
        ),
    )
    union = base.unionByName(delta).localCheckpoint(eager=True)
    ueg = union.select("vec_id", _grid_vec().alias("k"))
    beg = base.select("vec_id", _grid_vec().alias("k"))
    deg = delta.select("vec_id", _grid_vec().alias("k"))

    # ---- frozen (absorb) index artifacts
    bcells, bcenters = grid_ivf(base, n_cells=_N_CELLS, iters=_ITERS)
    bcenters = bcenters.localCheckpoint(eager=True)
    d_assign = grid_assign_map(delta, bcenters.collect())
    fcells = bcells.select("vec_id", "cell").unionByName(
        d_assign
    ).localCheckpoint(eager=True)
    fbounds = _sq_bounds(beg).localCheckpoint(eager=True)
    fcodes = _sq_codes(ueg, bounds=fbounds, clamp=True).localCheckpoint(
        eager=True
    )

    # ---- the drift audits the maintenance queries emit, consumed here
    n_delta, n_union = delta.count(), union.count()
    frac_corpus = n_delta / n_union
    cell_audit = (
        fcells.join(
            d_assign.select("vec_id").withColumn("is_delta", F.lit(1)),
            on="vec_id",
            how="left",
        )
        .groupBy("cell")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.coalesce("is_delta", F.lit(0))).alias("n_delta"),
        )
        .select(
            "cell", (F.col("n_delta") / F.col("n")).alias("frac_delta")
        )
    )
    max_frac_delta = cell_audit.agg(F.max("frac_delta")).first()[0]
    # clamp audit: fraction of delta (dim, value) encodings outside the
    # frozen bounds (exactly what q_sq8_incremental's n_clamp_lo/hi count)
    ddims = deg.select(F.posexplode("k").alias("p0", "v")).select(
        (F.col("p0") + 1).alias("p"), "v"
    )
    clamp = (
        ddims.join(F.broadcast(fbounds), on="p")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                (
                    (F.col("v") < F.col("lo")) | (F.col("v") > F.col("hi"))
                ).cast("long")
            ).alias("out"),
        )
        .first()
    )
    clamp_frac = clamp["out"] / clamp["n"]
    cell_skew = max_frac_delta / frac_corpus if frac_corpus else 0.0
    trip = clamp_frac > CLAMP_THRESHOLD or cell_skew > CELL_SKEW_THRESHOLD
    print(
        f"shift={shift} delta_frac={frac_corpus:.3f} "
        f"clamp_frac={clamp_frac:.4f} (threshold {CLAMP_THRESHOLD}) "
        f"max_cell_frac_delta={max_frac_delta:.3f} "
        f"cell_skew={cell_skew:.1f}x (threshold {CELL_SKEW_THRESHOLD}x) "
        f"-> retrain_triggered={trip}",
        flush=True,
    )

    # ---- queries from the drifted region
    queries = (
        deg.orderBy("vec_id")
        .limit(N_QUERIES)
        .select(F.col("vec_id").alias("q_id"), "k")
        .join(
            delta.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("emb")),
            on="q_id",
        )
        .localCheckpoint(eager=True)
    )

    r_frozen = _recall(spark, ueg, fcells, bcenters, fcodes, fbounds, queries)
    print(f"recall@{K} with FROZEN index (absorb path): {r_frozen:.3f}", flush=True)

    if trip or os.environ.get("DRIFT_FORCE_RETRAIN"):
        t0 = time.perf_counter()
        rcells, rcenters = grid_ivf(union, n_cells=_N_CELLS, iters=_ITERS)
        rcenters = rcenters.localCheckpoint(eager=True)
        rcells = rcells.select("vec_id", "cell").localCheckpoint(eager=True)
        rbounds = _sq_bounds(ueg).localCheckpoint(eager=True)
        rcodes = _sq_codes(ueg, bounds=rbounds).localCheckpoint(eager=True)
        t_retrain = time.perf_counter() - t0
        r_retrained = _recall(
            spark, ueg, rcells, rcenters, rcodes, rbounds, queries
        )
        print(
            f"recall@{K} after RETRAIN (union Lloyd + union bounds, "
            f"{t_retrain:.1f}s): {r_retrained:.3f}",
            flush=True,
        )
    pq_demo(spark, sf_dir, shift)
    spark.stop()




def pq_demo(spark, sf_dir: str, shift: float) -> None:
    """The PQ tier's drift loop (round-8 sibling of the IVF+SQ8 demo
    above): absorb a shifted delta with FROZEN codebooks
    (grid_pq_encode_map — q_pq_incremental's path), read the qerr audit the
    row emits, trip a relative threshold (delta mean qerr > 2x base
    mean qerr), retrain on the union, and print ADC top-K recall on
    drifted queries before/after. Ground truth = exact full-precision
    top-K over the union.

    MEASURED FINDING (PERF.md round 8): the qerr audit is a sharp
    detector (1.0x in-distribution vs 9.5x under hard drift), but a
    FIXED-CAPACITY retrain is the wrong recovery lever for PQ — recall
    sits at the codebook-capacity floor (~0.21 here) drifted or not,
    and under hard drift the retrain is actively harmful (0.05-0.14:
    Lloyd dedicates whole centroids to the shifted cluster's MEAN,
    collapsing its interior to identical codes and destroying
    within-cluster discrimination; more centroids barely help — 0.18
    at 4x capacity). The production recovery path is the COMPOSED
    IVF+PQ index, where the IVF tier's retrain (which this tool
    measures recovering 0.77 → 1.00) re-centers residuals and the PQ
    codes only ever discriminate within a cell."""
    from incubator_flink_old_spark.operators.similarity import (
        grid_pq,
        grid_pq_encode_map,
        grid_sqdist,
    )
    from incubator_flink_old_spark.queries.llm_ops11 import (
        _PQ_CENTROIDS,
        _PQ_ITERS,
        _PQ_M,
        _PQ_SUB,
    )
    from incubator_flink_old_spark.queries.llm_ops18 import _grid_vec
    from incubator_flink_old_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    max_vec = emb.agg(F.max("vec_id")).first()[0] + 1
    base = emb.filter(F.col("vec_id") % 5 != 4).select("vec_id", "embedding")
    delta = emb.filter(F.col("vec_id") % 5 == 4).select(
        (F.col("vec_id") + max_vec).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(shift)).alias(
            "embedding"
        ),
    )
    union = base.unionByName(delta).localCheckpoint(eager=True)
    queries = delta.orderBy("vec_id").limit(N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    ).localCheckpoint(eager=True)

    def sdc_recall(books, codes):
        """SDC: distance table per (query, j, cid) from the query's own
        subvectors vs the codebooks; rank by summed table lookups."""
        qsubs = queries.select(
            "q_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"),
                            F.slice(
                                F.transform(
                                    F.transform(
                                        "qe", lambda x: x.cast("double")
                                    ),
                                    lambda x: F.floor(
                                        x * F.lit(1_000_000.0)
                                    ).cast("long"),
                                ),
                                j * _PQ_SUB + 1,
                                _PQ_SUB,
                            ).alias("sv"),
                        )
                        for j in range(_PQ_M)
                    ]
                )
            ).alias("js"),
        ).select("q_id", F.col("js.j").alias("j"), F.col("js.sv").alias("sv"))
        dtab = qsubs.join(F.broadcast(books), on="j").select(
            "q_id",
            "j",
            F.col("cid").alias("code"),
            grid_sqdist(
                F.transform("sv", lambda x: x.cast("double")),
                F.transform("bv", lambda x: x.cast("double")),
            ).alias("d"),
        )
        adist = (
            codes.join(F.broadcast(dtab), on=["j", "code"])
            .groupBy("q_id", "vec_id")
            .agg(F.sum("d").alias("ad"))
        )
        w = Window.partitionBy("q_id").orderBy("ad", "vec_id")
        it = (
            adist.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= K)
            .select(F.col("q_id").alias("iq"), F.col("vec_id").alias("ivec"))
        )
        ug = union.select("vec_id", _grid_vec().alias("k")).select(
            "vec_id",
            F.transform("k", lambda x: x.cast("double")).alias("kd"),
        )
        qg = queries.select(
            "q_id",
            F.transform(
                F.transform("qe", lambda x: x.cast("double")),
                lambda x: F.floor(x * F.lit(1_000_000.0)),
            ).alias("qv"),
        )
        bt = (
            F.broadcast(qg)
            .crossJoin(ug)
            .select(
                "q_id",
                "vec_id",
                grid_sqdist(F.col("qv"), F.col("kd")).alias("d"),
            )
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("q_id").orderBy("d", "vec_id")
                ),
            )
            .filter(F.col("rn") <= K)
            .select("q_id", "vec_id")
        )
        hits = bt.join(
            it, (bt.q_id == it.iq) & (bt.vec_id == it.ivec)
        ).count()
        return hits / bt.count()

    _, fbooks = grid_pq(
        base, m=_PQ_M, n_centroids=_PQ_CENTROIDS, iters=_PQ_ITERS
    )
    fbooks = fbooks.localCheckpoint(eager=True)
    fbook_rows = fbooks.collect()
    enc_base = grid_pq_encode_map(base, fbook_rows, m=_PQ_M)
    enc_delta = grid_pq_encode_map(delta, fbook_rows, m=_PQ_M)
    qb = enc_base.agg(F.avg("qerr")).first()[0]
    qd = enc_delta.agg(F.avg("qerr")).first()[0]
    trip = qd > 2.0 * qb
    print(
        f"PQ drift: shift={shift} base_mean_qerr={qb:,.0f} "
        f"delta_mean_qerr={qd:,.0f} ratio={qd / qb:.1f}x "
        f"(threshold 2.0x) -> retrain_triggered={trip}",
        flush=True,
    )
    fcodes = enc_base.unionByName(enc_delta).select(
        "vec_id", "j", "code"
    ).localCheckpoint(eager=True)
    r_frozen = sdc_recall(fbooks, fcodes)
    print(f"PQ recall@{K} with FROZEN books (absorb path): {r_frozen:.3f}",
          flush=True)
    if trip or os.environ.get("DRIFT_FORCE_RETRAIN"):
        rcodes, rbooks = grid_pq(
            union, m=_PQ_M, n_centroids=_PQ_CENTROIDS, iters=_PQ_ITERS
        )
        r_retrained = sdc_recall(
            rbooks.localCheckpoint(eager=True),
            rcodes.localCheckpoint(eager=True),
        )
        print(
            f"PQ recall@{K} after RETRAIN (union codebooks): "
            f"{r_retrained:.3f}",
            flush=True,
        )


if __name__ == "__main__":
    main()
