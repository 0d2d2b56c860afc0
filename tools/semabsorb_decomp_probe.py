"""Decompose the round-12 top-wall family — q_semantic_absorb_parity /
q_stream_semantic_absorb_parity / q_stream_semantic_gate_parity — into
phases (guide §1: find where the wall actually goes before changing
anything). Batch rows get per-phase wall via forced materialization at
the phase boundaries the query itself already has (persist / eager
checkpoint); streaming rows additionally dump each micro-batch's
queryProgress durationMs breakdown (triggerExecution vs addBatch vs
queryPlanning vs state commit) — the only way to tell driver-side
planning cost from executor work in a 5-micro-batch replay.

Usage: python tools/semabsorb_decomp_probe.py [sf_dir] [which]
  which in {batch, stream_gate, stream_absorb, all} (default all)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
WHICH = sys.argv[2] if len(sys.argv) > 2 else "all"

_T0 = [time.perf_counter()]


def lap(label: str) -> None:
    now = time.perf_counter()
    print(f"  {label:58s} {now - _T0[0]:7.2f}s", flush=True)
    _T0[0] = now


def run_stream_with_progress(stream_df, query_name, output_mode,
                             state_partitions=4):
    spark = stream_df.sparkSession
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    if state_partitions is not None:
        spark.conf.set(key, str(state_partitions))
    try:
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(query_name)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        for p in q.recentProgress:
            d = p["durationMs"] if isinstance(p, dict) else json.loads(p.json)["durationMs"]
            pj = p if isinstance(p, dict) else json.loads(p.json)
            rows = pj.get("numInputRows")
            print(
                f"    batch {pj['batchId']}: rows={rows} "
                + " ".join(f"{k}={v}" for k, v in sorted(d.items()))
            , flush=True)
        return q
    finally:
        spark.conf.set(key, prev)


def batch_row(spark):
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from incubator_flink_old_spark.operators.similarity import (
        grid_assign_map,
        grid_ivf,
        semantic_screen_events,
    )
    from incubator_flink_old_spark.operators.text import streaming_ingest_gate
    from incubator_flink_old_spark.queries._util import t
    from incubator_flink_old_spark.queries.llm_ops30 import _GATE_LANGS
    from incubator_flink_old_spark.queries.llm_ops31 import (
        _SEM_CELLS,
        _SEM_ITERS,
        _SEM_PROBE,
        _SEM_THRESHOLD,
    )
    from incubator_flink_old_spark.session import staged

    print("== q_semantic_absorb_parity decomposition ==", flush=True)
    _T0[0] = time.perf_counter()
    docs = t(spark, SF_DIR, "documents")
    emb = t(spark, SF_DIR, "embeddings")
    m5d, m5v = F.col("doc_id") % 5, F.col("vec_id") % 5
    w1_docs = docs.filter(m5d == 3).select("doc_id", "text", "lang")
    w2_docs = docs.filter(m5d == 4).select("doc_id", "text", "lang")
    corpus0_emb = emb.filter(m5v <= 2).select("vec_id", "embedding")
    w1_emb = emb.filter(m5v == 3).select("vec_id", "embedding")
    w2_emb = emb.filter(m5v == 4).select("vec_id", "embedding")
    lap("setup (lazy)")

    with staged() as st:
        cells0, centers = grid_ivf(corpus0_emb, n_cells=_SEM_CELLS, iters=_SEM_ITERS)
        lap("grid_ivf build (lazy graph + per-iter checkpoints)")
        cells0, centers, corpus0_emb = st.keep(
            *(
                f.persist(StorageLevel.DISK_ONLY)
                for f in (cells0, centers, corpus0_emb)
            )
        )
        cells0.count(); centers.count(); corpus0_emb.count()
        lap("pin cells0/centers/corpus0_emb (forced)")

        def semi(events, wave_docs):
            return events.select("doc_a").join(
                wave_docs.select(F.col("doc_id").alias("doc_a")),
                on="doc_a", how="leftsemi",
            )

        sem1 = semi(
            semantic_screen_events(
                w1_emb, corpus0_emb, n_probe=_SEM_PROBE,
                threshold=_SEM_THRESHOLD, index=(cells0, centers),
            ),
            w1_docs,
        )
        g1 = st.keep(streaming_ingest_gate(
            w1_docs, None, langs=_GATE_LANGS, screens=(),
            extra_screens={"semdup": sem1},
        ).localCheckpoint(eager=True))
        lap("wave-1 screen + gate (eager checkpoint)")

        adm1_emb = w1_emb.join(
            g1.filter(
                F.col("quality_ok") & F.col("lang_ok") & ~F.col("has_semdup")
            ).select(F.col("doc_id").alias("vec_id")),
            on="vec_id",
        )
        cells1 = cells0.unionByName(grid_assign_map(adm1_emb, centers.collect()))
        emb1 = corpus0_emb.unionByName(adm1_emb)
        sem2 = semi(
            semantic_screen_events(
                w2_emb, emb1, n_probe=_SEM_PROBE,
                threshold=_SEM_THRESHOLD, index=(cells1, centers),
            ),
            w2_docs,
        )
        g2 = streaming_ingest_gate(
            w2_docs, None, langs=_GATE_LANGS, screens=(),
            extra_screens={"semdup": sem2},
        )

        def tag(g, wave):
            return g.select(
                F.lit(wave).cast("long").alias("wave"), "doc_id",
                "quality_ok", "lang_ok", "has_semdup",
                (F.col("quality_ok") & F.col("lang_ok") & ~F.col("has_semdup")).alias("absorbed"),
            )

        out = tag(g1, 1).unionByName(tag(g2, 2)).localCheckpoint(eager=True)
        lap("wave-2 absorb + screen + gate + final checkpoint")
        out.write.format("noop").mode("overwrite").save()
        lap("noop save of checkpointed result")


def stream_row(spark, absorb: bool):
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from incubator_flink_old_spark.operators.similarity import (
        grid_assign_map,
        grid_ivf,
        semantic_screen_events,
        semantic_screen_events_map,
    )
    from incubator_flink_old_spark.operators.text import streaming_ingest_gate
    from incubator_flink_old_spark.queries._util import t
    from incubator_flink_old_spark.queries.llm_ops28 import (
        _D_MOD, _D_REM, _NDS_BAND, _NDS_HASHES, _NDS_THRESHOLD,
    )
    from incubator_flink_old_spark.queries.llm_ops30 import (
        _GATE_LANGS,
        _gate_replay,
    )
    from incubator_flink_old_spark.queries.llm_ops31 import (
        _SEM_CELLS, _SEM_ITERS, _SEM_PROBE, _SEM_THRESHOLD,
    )
    from incubator_flink_old_spark.session import staged
    from incubator_flink_old_spark.streaming import replay_source

    name = "stream_absorb" if absorb else "stream_gate"
    print(f"== q_stream_semantic_{'absorb' if absorb else 'gate'}_parity decomposition ==", flush=True)
    _T0[0] = time.perf_counter()
    docs = t(spark, SF_DIR, "documents")
    emb = t(spark, SF_DIR, "embeddings")
    with staged() as st:
        if absorb:
            m5d, m5v = F.col("doc_id") % 5, F.col("vec_id") % 5
            w1_docs = docs.filter(m5d == 3).select("doc_id", "text", "lang")
            corpus0_emb = emb.filter(m5v <= 2).select("vec_id", "embedding")
            w1_emb = emb.filter(m5v == 3).select("vec_id", "embedding")
            cells0, centers = grid_ivf(corpus0_emb, n_cells=_SEM_CELLS, iters=_SEM_ITERS)
            centers_rows = centers.collect()
            lap("grid_ivf + centers collect")
            cells0, centers, corpus0_emb = st.keep(
                *(
                    f.persist(StorageLevel.DISK_ONLY)
                    for f in (cells0, centers, corpus0_emb)
                )
            )
            sem1 = (
                semantic_screen_events(
                    w1_emb, corpus0_emb, n_probe=_SEM_PROBE,
                    threshold=_SEM_THRESHOLD, index=(cells0, centers),
                )
                .select("doc_a")
                .join(w1_docs.select(F.col("doc_id").alias("doc_a")),
                      on="doc_a", how="leftsemi")
            )
            g1 = st.keep(streaming_ingest_gate(
                w1_docs, None, langs=_GATE_LANGS, screens=(),
                extra_screens={"semdup": sem1},
            ).localCheckpoint(eager=True))
            lap("wave-1 gate (eager)")
            adm1_emb = w1_emb.join(
                g1.filter(F.col("quality_ok") & F.col("lang_ok") & ~F.col("has_semdup"))
                .select(F.col("doc_id").alias("vec_id")),
                on="vec_id",
            )
            cells1, emb1 = st.keep(
                cells0.unionByName(grid_assign_map(adm1_emb, centers.collect())).persist(StorageLevel.DISK_ONLY),
                corpus0_emb.unionByName(adm1_emb).persist(StorageLevel.DISK_ONLY),
            )
            cells1.count(); emb1.count()
            lap("absorbed artifacts pin (forced)")
            stream_pred, static_cells, static_emb = m5d == 4, cells1, emb1
            nemb = st.keep(emb.filter(m5v == 4).select(
                F.col("vec_id").alias("doc_id"), "embedding"
            ).persist(StorageLevel.DISK_ONLY))
            gate_kwargs = dict(screens=())
        else:
            new_d = F.col("doc_id") % _D_MOD == _D_REM
            new_v = F.col("vec_id") % _D_MOD == _D_REM
            corpus_emb = emb.filter(~new_v).select("vec_id", "embedding")
            cells, centers = grid_ivf(corpus_emb, n_cells=_SEM_CELLS, iters=_SEM_ITERS)
            centers_rows = centers.collect()
            lap("grid_ivf + centers collect")
            cells, corpus_emb, nemb = st.keep(
                cells.persist(StorageLevel.DISK_ONLY),
                corpus_emb.persist(StorageLevel.DISK_ONLY),
                emb.filter(new_v)
                .select(F.col("vec_id").alias("doc_id"), "embedding")
                .persist(StorageLevel.DISK_ONLY),
            )
            cells.count(); corpus_emb.count(); nemb.count()
            lap("static artifact pins (forced)")
            stream_pred, static_cells, static_emb = new_d, cells, corpus_emb
            gate_kwargs = dict(
                num_hashes=_NDS_HASHES, band_size=_NDS_BAND,
                jaccard_threshold=_NDS_THRESHOLD, screens=("neardup",),
                stage=st,
            )

        corpus_side = None if absorb else docs.filter(F.col("doc_id") % _D_MOD != _D_REM)
        with replay_source(_gate_replay(docs.filter(stream_pred))) as stream:
            lap("replay fixture write (3 files + 2 sentinels)")
            sem = semantic_screen_events_map(
                stream.select(F.col("doc_id").alias("vec_id"), "ts").join(
                    nemb.select(F.col("doc_id").alias("vec_id"), "embedding"),
                    on="vec_id",
                ),
                centers_rows, static_cells, static_emb,
                n_probe=_SEM_PROBE, threshold=_SEM_THRESHOLD, carry=("ts",),
            ).select("doc_a", "ts")
            out = streaming_ingest_gate(
                stream, corpus_side, langs=_GATE_LANGS,
                extra_screens={"semdup": sem},
                event_time="ts", watermark_delay="30 seconds",
                **gate_kwargs,
            )
            lap("stream DAG build (lazy)")
            run_stream_with_progress(
                out, f"probe_{name}", "append", state_partitions=4
            )
            lap("stream run (5 micro-batches)")
        tbl = spark.table(f"probe_{name}").filter(F.col("doc_id") >= 0)
        tbl.write.format("noop").mode("overwrite").save()
        lap("readback + noop")


def main():
    from incubator_flink_old_spark import get_spark

    spark = get_spark("semabsorb-decomp-probe")
    t0 = time.perf_counter()
    if WHICH in ("batch", "all"):
        batch_row(spark)
    if WHICH in ("stream_gate", "all"):
        stream_row(spark, absorb=False)
    if WHICH in ("stream_absorb", "all"):
        stream_row(spark, absorb=True)
    print(f"total {time.perf_counter() - t0:.2f}s")
    spark.stop()


if __name__ == "__main__":
    main()
