"""Index-maintenance scale probe: measure ABSORBING A DELTA BATCH vs
RETRAINING/RECOMPUTING the index, for each maintenance tier shipped in
round 7 (IVF frozen-center assignment, BM25 stats merge, SQ8
frozen-bounds encode), at 1x and Nx corpus scale. The family's claim is
that absorption cost scales with the DELTA while retrain scales with
the CORPUS — this prints the measured ratio so the claim is a number,
not prose.

Corpus layout per scale: base = corpus grown to N replicas (the
random-SIGN perturbation recipe), delta = a fresh 20%-of-1x batch —
i.e. the delta is FIXED-SIZE while the base grows, which is the
steady-state shape of an append-heavy 100 TB table. Both sides are
materialized parquet so timings measure compute, not lineage replay.

All paths are the SHIPPED operators (grid_ivf / grid_assign_map /
bm25_index_stats / merge_bm25_stats / _sq_bounds / _sq_codes).

Usage: python tools/maintenance_probe.py [N_scale]   (default 16)
Quiet box only if the numbers are to be quoted.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _best(fn, runs: int = 2) -> float:
    return min(_noop(fn()) for _ in range(runs))


def main() -> None:
    n_scale = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    sf_dir = "/root/testdata/sf0.1"

    from incubator_flink_old_spark import get_spark

    spark = get_spark("maintenance-probe")
    out = tempfile.mkdtemp(prefix="maintenance_probe_")
    try:
        _probe(spark, sf_dir, n_scale, out)
    finally:
        spark.stop()
        shutil.rmtree(out, ignore_errors=True)


def _probe(spark, sf_dir: str, n_scale: int, out: str) -> None:
    from incubator_flink_old_spark.operators.retrieval import (
        bm25_index_stats,
        merge_bm25_stats,
    )
    from incubator_flink_old_spark.operators.similarity import (
        grid_assign_map,
        grid_ivf,
    )
    from incubator_flink_old_spark.queries.llm_ops11 import _ITERS, _N_CELLS
    from incubator_flink_old_spark.queries.llm_ops18 import (
        _TS_TERMS,
        _grid_vec,
        _sq_bounds,
        _sq_codes,
    )
    from incubator_flink_old_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    max_vec = emb.agg(F.max("vec_id")).first()[0] + 1
    max_doc = docs.agg(F.max("doc_id")).first()[0] + 1

    def perturb(i):
        return F.transform(
            "embedding",
            lambda x, p: x
            + F.lit(i * 1e-4)
            * F.when(
                F.pmod(F.hash(F.lit(i), p), F.lit(2)) == 0, F.lit(1.0)
            ).otherwise(F.lit(-1.0)),
        )

    for scale, n in (("1x", 1), (f"{n_scale}x", n_scale)):
        # base: n replicas; delta: a fixed 20%-of-1x fresh batch
        eparts = [
            emb.select(
                (F.col("vec_id") + F.lit(i * max_vec)).alias("vec_id"),
                perturb(i).alias("embedding"),
            )
            for i in range(n)
        ]
        ebase = eparts[0]
        for p in eparts[1:]:
            ebase = ebase.unionByName(p)
        edelta = emb.filter(F.col("vec_id") % 5 == 4).select(
            (F.col("vec_id") + F.lit(n * max_vec)).alias("vec_id"),
            perturb(n).alias("embedding"),
        )
        dparts = [
            docs.select(
                (F.col("doc_id") + F.lit(i * max_doc)).alias("doc_id"), "text"
            )
            for i in range(n)
        ]
        dbase = dparts[0]
        for p in dparts[1:]:
            dbase = dbase.unionByName(p)
        ddelta = docs.filter(F.col("doc_id") % 5 == 4).select(
            (F.col("doc_id") + F.lit(n * max_doc)).alias("doc_id"), "text"
        )
        for name, df in (
            ("ebase", ebase),
            ("edelta", edelta),
            ("dbase", dbase),
            ("ddelta", ddelta),
        ):
            df.write.mode("overwrite").parquet(f"{out}/{scale}_{name}")
        ebase = spark.read.parquet(f"{out}/{scale}_ebase")
        edelta = spark.read.parquet(f"{out}/{scale}_edelta")
        dbase = spark.read.parquet(f"{out}/{scale}_dbase")
        ddelta = spark.read.parquet(f"{out}/{scale}_ddelta")
        eunion = ebase.unionByName(edelta)
        dunion = dbase.unionByName(ddelta)
        nb, nd = ebase.count(), edelta.count()

        # --- IVF: retrain Lloyd on the union vs assign delta to frozen
        centers = grid_ivf(ebase, n_cells=_N_CELLS, iters=_ITERS)[1].collect()
        t_retrain = _best(
            lambda: grid_ivf(eunion, n_cells=_N_CELLS, iters=_ITERS)[0]
        )
        t_assign = _best(lambda: grid_assign_map(edelta, centers))
        print(
            f"scale={scale} base={nb:,} delta={nd:,} IVF: "
            f"retrain={t_retrain:.2f}s assign_delta={t_assign:.2f}s "
            f"ratio={t_retrain / t_assign:.1f}x",
            flush=True,
        )

        # --- BM25: recompute stats over the union vs delta stats + merge
        base_stats = bm25_index_stats(dbase, _TS_TERMS)
        base_stats = (
            base_stats[0].localCheckpoint(eager=True),
            base_stats[1].localCheckpoint(eager=True),
        )

        def _merged():
            s, d = merge_bm25_stats(
                base_stats, bm25_index_stats(ddelta, _TS_TERMS)
            )
            return s.crossJoin(d)

        def _full():
            s, d = merge_bm25_stats(bm25_index_stats(dunion, _TS_TERMS))
            return s.crossJoin(d)

        t_full = _best(_full)
        t_merge = _best(_merged)
        print(
            f"scale={scale} BM25 stats: recompute={t_full:.2f}s "
            f"delta+merge={t_merge:.2f}s ratio={t_full / t_merge:.1f}x",
            flush=True,
        )

        # --- SQ8: re-encode the union vs frozen-bounds delta encode
        eg_base = ebase.select("vec_id", _grid_vec().alias("k"))
        eg_delta = edelta.select("vec_id", _grid_vec().alias("k"))
        eg_union = eunion.select("vec_id", _grid_vec().alias("k"))
        bounds = _sq_bounds(eg_base).localCheckpoint(eager=True)
        t_reencode = _best(lambda: _sq_codes(eg_union))
        t_delta = _best(lambda: _sq_codes(eg_delta, bounds=bounds, clamp=True))
        print(
            f"scale={scale} SQ8: reencode={t_reencode:.2f}s "
            f"delta_frozen={t_delta:.2f}s ratio={t_reencode / t_delta:.1f}x",
            flush=True,
        )

        # --- PQ: retrain codebooks + encode union vs frozen-books
        # delta encode (the round-8 tier, q_pq_incremental)
        from incubator_flink_old_spark.operators.similarity import (
            grid_pq,
            grid_pq_encode_map,
        )
        from incubator_flink_old_spark.queries.llm_ops11 import (
            _PQ_CENTROIDS,
            _PQ_ITERS,
            _PQ_M,
        )

        books = grid_pq(
            ebase, m=_PQ_M, n_centroids=_PQ_CENTROIDS, iters=_PQ_ITERS
        )[1].collect()
        t_pq_retrain = _best(
            lambda: grid_pq(
                eunion, m=_PQ_M, n_centroids=_PQ_CENTROIDS, iters=_PQ_ITERS
            )[0]
        )
        t_pq_delta = _best(lambda: grid_pq_encode_map(edelta, books, m=_PQ_M))
        print(
            f"scale={scale} PQ: retrain+encode={t_pq_retrain:.2f}s "
            f"delta_frozen={t_pq_delta:.2f}s "
            f"ratio={t_pq_retrain / t_pq_delta:.1f}x",
            flush=True,
        )


if __name__ == "__main__":
    main()
