"""Structured Streaming smoke + batch/stream parity (SURVEY §2.10 W1–W5).

The same window operator functions used by the batch oracle queries run
here over a file-replay stream of the events fixture; results must equal
the batch run (Spark's unified semantics, checked end-to-end)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from incubator_flink_old_spark.queries._util import dsum
from incubator_flink_old_spark.sources import load_table
from incubator_flink_old_spark.streaming import (
    dedup_streaming,
    read_events_stream,
    run_stream_to_memory,
    tumbling_window,
    with_watermark,
)


@pytest.fixture(scope="module")
def events_stream(spark, sf_dir):
    return read_events_stream(spark, sf_dir)


def test_stream_tumbling_equals_batch(spark, sf_dir, events_stream):
    agg = tumbling_window(
        with_watermark(events_stream, "ts", "10 minutes"),
        "ts",
        "1 hour",
        ["event_type"],
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", "total_value"),
    )
    run_stream_to_memory(agg, "stream_tumbling", "append")
    got = {
        (r["win_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM stream_tumbling").collect()
    }

    batch = tumbling_window(
        load_table(spark, sf_dir, "events"),
        "ts",
        "1 hour",
        ["event_type"],
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", "total_value"),
    )
    want = {
        (r["win_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in batch.collect()
    }
    # Every emitted window must equal its batch twin. Windows whose end the
    # final watermark (max_ts - delay) never passed stay open in state and
    # are legitimately unemitted in append mode — exclude exactly those.
    from datetime import timedelta

    max_ts = load_table(spark, sf_dir, "events").agg(F.max("ts")).first()[0]
    final_wm = max_ts - timedelta(minutes=10)
    closed = {
        k: v for k, v in want.items() if k[0] + timedelta(hours=1) <= final_wm
    }
    assert set(closed).issubset(set(got))
    for k in closed:
        assert got[k] == closed[k]
    assert set(got).issubset(set(want))
    for k in got:
        assert got[k] == want[k]


def test_stream_dedup_watermark(spark, sf_dir, events_stream):
    deduped = dedup_streaming(
        events_stream.select("user_id", "event_type", "ts"),
        ["user_id", "event_type"],
        "ts",
        "10 minutes",
    )
    run_stream_to_memory(deduped, "stream_dedup", "append")
    n_stream = spark.sql("SELECT count(*) AS n FROM stream_dedup").first()["n"]

    n_batch_keys = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    # In-order replay within one file → exactly one row per key survives.
    assert n_stream == n_batch_keys


def test_watermark_metadata_attached(events_stream):
    wm = with_watermark(events_stream, "ts", "10 minutes")
    assert wm.isStreaming


def test_stream_stream_interval_join(spark, sf_dir):
    """Stream-stream join with watermarks on both sides (the streaming
    twin of q_range_join): purchases joined to prior views of the same
    user within 10 minutes; state bounded by the watermark + interval."""
    from incubator_flink_old_spark.queries import QUERIES, load_all_queries

    load_all_queries()

    ev = read_events_stream(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("v_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "10 minutes")
    )
    joined = purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 minutes"))
        & (F.col("v_ts") < F.col("p_ts")),
        "inner",
    )
    run_stream_to_memory(joined, "ss_join", "append")
    got = {
        (r["p_id"], r["v_id"]) for r in spark.sql("SELECT * FROM ss_join").collect()
    }

    # batch twin: the inner pairs of q_range_join's pre-aggregation
    from incubator_flink_old_spark.sources import load_table

    ev_b = load_table(spark, sf_dir, "events")
    p = ev_b.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    v = ev_b.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_id"), F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    want = {
        (r["p_id"], r["v_id"])
        for r in p.join(
            v,
            (F.col("p_user") == F.col("v_user"))
            & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 minutes"))
            & (F.col("v_ts") < F.col("p_ts")),
        ).collect()
    }
    # in-order single-file replay: no pair is dropped as late
    assert got == want
    assert got, "expected some purchase-view pairs"


def test_foreach_batch_sink(spark, sf_dir, tmp_path):
    """foreachBatch: the exactly-once-style sink hook (batch-id-addressed
    writes let a custom sink dedup replayed epochs)."""
    out = str(tmp_path / "fb")
    seen = []

    def write_batch(batch_df, epoch_id):
        seen.append(epoch_id)
        batch_df.write.mode("append").parquet(f"{out}/epoch={epoch_id}")

    ev = read_events_stream(spark, sf_dir).select("event_id", "event_type")
    q = ev.writeStream.outputMode("append").foreachBatch(write_batch).start()
    q.processAllAvailable()
    q.stop()
    assert seen == sorted(set(seen)), "epoch ids monotonically unique"
    total = spark.read.parquet(out).count()
    from incubator_flink_old_spark.sources import load_table

    assert total == load_table(spark, sf_dir, "events").count()


def test_stream_sliding_and_session_parity(spark, sf_dir):
    """Sliding and session windows: streaming results must agree with
    their batch twins on every window the watermark closed."""
    from datetime import timedelta

    from incubator_flink_old_spark.streaming import session_window, sliding_window

    ev_s = read_events_stream(spark, sf_dir)
    ev_b = load_table(spark, sf_dir, "events")
    max_ts = ev_b.agg(F.max("ts")).first()[0]
    final_wm = max_ts - timedelta(minutes=10)

    slid = sliding_window(
        with_watermark(ev_s, "ts", "10 minutes"),
        "ts", "1 hour", "30 minutes", [],
        F.count(F.lit(1)).alias("n"),
    )
    run_stream_to_memory(slid, "stream_sliding", "append")
    got = {
        (r["win_start"], r["win_end"]): r["n"]
        for r in spark.sql("SELECT * FROM stream_sliding").collect()
    }
    want = {
        (r["win_start"], r["win_end"]): r["n"]
        for r in sliding_window(
            ev_b, "ts", "1 hour", "30 minutes", [], F.count(F.lit(1)).alias("n")
        ).collect()
    }
    for k, v in want.items():
        if k[1] <= final_wm:  # closed windows must match exactly
            assert got.get(k) == v
    for k in got:
        assert got[k] == want[k]  # nothing extra/misCounted

    sess = session_window(
        with_watermark(ev_s, "ts", "10 minutes"),
        "ts", "5 minutes", ["user_id"],
        F.count(F.lit(1)).alias("n"),
    )
    run_stream_to_memory(sess, "stream_session", "append")
    got_s = {
        (r["user_id"], r["win_start"]): (r["win_end"], r["n"])
        for r in spark.sql("SELECT * FROM stream_session").collect()
    }
    want_s = {
        (r["user_id"], r["win_start"]): (r["win_end"], r["n"])
        for r in session_window(
            ev_b, "ts", "5 minutes", ["user_id"], F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert got_s, "expected closed sessions"
    for k in got_s:
        assert got_s[k] == want_s[k]


def test_streaming_curation_pipeline_parity(spark, sf_dir):
    """The LLM curation transforms (quality score, lang-id, chunking) are
    stateless Column expressions, so the SAME operator functions run
    unchanged over a documents file-replay stream and must equal batch."""
    from incubator_flink_old_spark.operators.text import chunk_documents, quality_score

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    docs_stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )
    stream_q = chunk_documents(quality_score(docs_stream).filter("keep").join(
        docs_stream.select("doc_id", "text"), on="doc_id"
    ))
    run_stream_to_memory(stream_q, "curation_stream", "append")
    got = {
        (r["doc_id"], r["chunk_idx"], r["chunk_text"])
        for r in spark.table("curation_stream").collect()
    }

    docs = load_table(spark, sf_dir, "documents")
    batch_q = chunk_documents(quality_score(docs).filter("keep").join(
        docs.select("doc_id", "text"), on="doc_id"
    ))
    want = {
        (r["doc_id"], r["chunk_idx"], r["chunk_text"]) for r in batch_q.collect()
    }
    assert got == want and len(want) > 0


def test_interval_join_helper_stream_batch_parity(spark, sf_dir):
    """The interval_join operator produces identical pairs over a
    file-replay stream (watermarked, state-bounded) and over the same
    frames read as batch."""
    from incubator_flink_old_spark.sources import load_table
    from incubator_flink_old_spark.streaming import interval_join, read_events_stream

    def sides(events, wm):
        views = events.filter(F.col("event_type") == "view").select(
            "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("l_ts")
        )
        clicks = events.filter(F.col("event_type") == "click").select(
            F.col("user_id"), F.col("event_id").alias("click_id"),
            F.col("ts").alias("r_ts"),
        )
        if wm:
            views = views.withWatermark("l_ts", "30 minutes")
            clicks = clicks.withWatermark("r_ts", "30 minutes")
        return views, clicks

    sv, sc = sides(read_events_stream(spark, sf_dir), wm=True)
    stream_j = interval_join(sv, sc, "user_id", upper="10 minutes").select(
        sv["user_id"], "view_id", "click_id"
    )
    run_stream_to_memory(stream_j, "ivj_stream", "append")
    got = {
        (r["user_id"], r["view_id"], r["click_id"])
        for r in spark.table("ivj_stream").collect()
    }

    bv, bc = sides(load_table(spark, sf_dir, "events"), wm=False)
    want = {
        (r["user_id"], r["view_id"], r["click_id"])
        for r in interval_join(bv, bc, "user_id", upper="10 minutes")
        .select(bv["user_id"], "view_id", "click_id")
        .collect()
    }
    assert got == want and len(want) > 0


def test_stream_template_dedup_parity(spark, sf_dir, events_stream):
    """Structural-template dedup in a stream: dropDuplicates on the
    template fingerprint (digit runs → '#', whitespace collapsed) keeps
    the first arrival per template — stream key-count == the batch
    operator's template-group count (plus untemplated singles)."""
    from pyspark.sql import functions as F

    fp = F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.coalesce(F.col("props"), F.lit(""))), "[0-9]+", "#"),
                r"\s+",
                " ",
            )
        )
    )
    deduped = dedup_streaming(
        events_stream.select("event_id", "ts", fp.alias("tpl_fp")),
        ["tpl_fp"],
        "ts",
        "10 minutes",
    )
    run_stream_to_memory(deduped, "stream_tpl_dedup", "append")
    n_stream = spark.sql("SELECT count(*) AS n FROM stream_tpl_dedup").first()["n"]
    n_batch = (
        load_table(spark, sf_dir, "events")
        .select(fp.alias("tpl_fp"))
        .distinct()
        .count()
    )
    assert n_stream == n_batch


def test_idempotent_sink_retry_is_exactly_once(spark, sf_dir, tmp_path):
    """Retrying a committed batch_id (Spark's failure-recovery contract
    for foreachBatch) must not duplicate output; a retry of an
    UNcommitted batch must repair it via overwrite."""
    import os

    from incubator_flink_old_spark.sources import load_table
    from incubator_flink_old_spark.streaming import (
        idempotent_parquet_sink,
        read_committed,
    )

    out = str(tmp_path / "sink")
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type").limit(100)
    write = idempotent_parquet_sink(out)
    write(ev, 0)
    write(ev, 0)  # retry of a committed epoch: no-op
    write(ev, 1)
    got = read_committed(spark, out)
    assert got.count() == 200  # two epochs, no duplicates from the retry

    # simulate a crashed attempt: partial dir without marker, then retry
    os.remove(os.path.join(out, "batch_id=1", "_COMMITTED"))
    assert read_committed(spark, out).count() == 100  # partials invisible
    write(ev, 1)  # retry repairs and commits
    assert read_committed(spark, out).count() == 200


def test_idempotent_sink_drives_a_real_stream(spark, sf_dir, tmp_path, events_stream):
    from incubator_flink_old_spark.streaming import (
        idempotent_parquet_sink,
        read_committed,
    )

    out = str(tmp_path / "stream_sink")
    q = (
        events_stream.select("event_id", "event_type")
        .writeStream.foreachBatch(idempotent_parquet_sink(out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    from incubator_flink_old_spark.sources import load_table

    want = load_table(spark, sf_dir, "events").count()
    assert read_committed(spark, out).count() == want


def test_replay_row_leaves_no_temp_dir_or_view(spark, sf_dir):
    """Memory-sink rows clean up after themselves: two runs each of
    q_stream_hh_parity, q_statestore_read and q_stream_restart_recovery
    add no entry under the temp dir (the replay source and checkpoint
    dirs are removed) and no catalog view (the memory sinks' views are
    dropped), and each result still collects. A first run goes before
    the snapshot: the JVM unpacks its native libraries and creates its
    session-wide temp dirs under the same temp dir on first use."""
    import os
    import tempfile

    from incubator_flink_old_spark.queries import QUERIES, load_all_queries

    rows = (
        "q_stream_hh_parity",
        "q_statestore_read",
        "q_stream_restart_recovery",
    )
    load_all_queries()
    QUERIES["q_stream_hh_parity"](spark, sf_dir).count()
    tmp = tempfile.gettempdir()
    dirs = set(os.listdir(tmp))
    views = {t.name for t in spark.catalog.listTables()}
    for _ in range(2):
        for name in rows:
            assert QUERIES[name](spark, sf_dir).count() > 0, name
    assert set(os.listdir(tmp)) - dirs == set()
    assert {t.name for t in spark.catalog.listTables()} - views == set()


def test_replay_source_cleans_up_when_the_stream_fails(spark):
    """A replay whose stream fails in its second micro-batch still
    removes its directory and the memory sink's temporary checkpoint
    dir, and leaves no query running."""
    import os
    import tempfile

    from incubator_flink_old_spark.sources import local_rows
    from incubator_flink_old_spark.streaming import (
        replay_source,
        stream_result,
    )

    def replay_dirs():
        return {
            e for e in os.listdir(tempfile.gettempdir())
            if e.startswith(("stream_replay_", "temporary-"))
        }

    before = replay_dirs()
    schema = "id long, tag string"
    batches = [
        local_rows(spark, [(1, "ok")], schema),
        local_rows(spark, [(2, "boom")], schema),
    ]
    with pytest.raises(Exception, match="replay boom"):
        with replay_source(batches) as stream:
            failing = stream.select(
                "id",
                F.when(
                    F.col("tag") == "boom", F.raise_error(F.lit("replay boom"))
                )
                .otherwise(F.col("tag"))
                .alias("tag"),
            )
            stream_result(failing, "append")
    assert replay_dirs() == before
    assert spark.streams.active == []
