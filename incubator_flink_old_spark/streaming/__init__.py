"""Event-time & streaming extension (SURVEY §2.10 W1–W6).

The reference tree is the batch-only Stratosphere era: no watermarks, no
windows, no user-facing state (execution pipelines records through Nephele
channels, but the programming model is bounded DataSets). Per the project
north star these capabilities are engine extensions built on Structured
Streaming — and every window operator below is defined so the SAME
function works on a batch DataFrame (driver-checkable against SQL) and on
a streaming DataFrame (readStream + watermark), which is Spark's
batch/stream unification doing the work.

Scale posture: windowed aggregations are keyed-state operators; the state
store partitions by (key, window). Watermarks bound state size — an
unbounded-lateness stream at 100TB/day would otherwise accrete state
forever, so ``with_watermark`` is mandatory in the streaming forms.
"""

from __future__ import annotations

import contextlib
import itertools

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from incubator_flink_old_spark.session import staged


def with_watermark(df: DataFrame, ts_col: str, delay: str) -> DataFrame:
    """W4: bound event-time lateness; late rows beyond ``delay`` drop out
    of stateful operators and their state is reclaimed."""
    return df.withWatermark(ts_col, delay)


def _windowed(df: DataFrame, window_col: Column, keys: list[str], aggs: tuple[Column, ...]) -> DataFrame:
    out = df.groupBy(window_col.alias("_w"), *keys).agg(*aggs)
    agg_cols = out.columns[1 + len(keys):]
    return out.select(
        F.col("_w.start").alias("win_start"),
        F.col("_w.end").alias("win_end"),
        *keys,
        *agg_cols,
    )


def tumbling_window(
    df: DataFrame, ts_col: str, duration: str, keys: list[str], *aggs: Column
) -> DataFrame:
    """W1: fixed non-overlapping windows. Output carries win_start/win_end
    (epoch-aligned, matching SQL time_bucket semantics)."""
    return _windowed(df, F.window(ts_col, duration), keys, aggs)


def sliding_window(
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide: str,
    keys: list[str],
    *aggs: Column,
) -> DataFrame:
    """W2: overlapping windows — each row contributes to duration/slide
    windows (Spark expands rows internally; state cost multiplies
    accordingly, size watermarks to match)."""
    return _windowed(df, F.window(ts_col, duration, slide), keys, aggs)


def session_window(
    df: DataFrame, ts_col: str, gap: str, keys: list[str], *aggs: Column
) -> DataFrame:
    """W3: data-driven windows — a session closes after ``gap`` of
    inactivity; window end = last event + gap. Batch and streaming forms
    share this exact definition (gaps-and-islands in SQL terms)."""
    return _windowed(df, F.session_window(ts_col, gap), keys, aggs)


def dedup_keep_first(df: DataFrame, keys: list[str], order: list[Column]) -> DataFrame:
    """W5 batch form: deterministic dedup — keep the first row per key in
    the given (fully tie-broken) event order."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_streaming(df: DataFrame, keys: list[str], ts_col: str, delay: str) -> DataFrame:
    """W5 streaming form: state-backed exactly-once-per-key emission within
    the watermark horizon (state reclaimed past it)."""
    return df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(keys)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-replay streaming source over the events fixture (the same
    parquet the batch forms read, replayed file-at-a-time).

    The events fixture stores ``ts`` as TIMESTAMP(MICROS) (verified on
    every sf dir), which Spark's vectorized reader handles natively —
    the schema declares it TIMESTAMP directly, matching the batch path
    (sources.load_table). Round-2 bug: this reader declared ``ts long``
    and applied the NANOS normalization ``ts div 1000`` to a MICROS
    payload, shrinking all event times 1000× (epochs ~1.7e6 instead of
    ~1.7e9) — which silently broke every downstream gap/session
    computation. Unit mistakes at the source are the worst class of
    silent corruption; keep source schemas aligned with the file's
    physical type.
    """
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    return (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        # file streaming sources take a directory; filter to the events file
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )


def stateful_session_stats(
    events: DataFrame,
    gap_seconds: int = 300,
    key: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-key
    session accumulator with explicit user-managed state — the engine's
    surface for operators Spark's built-ins can't express (the reference
    had NO user state API at all; this is the Structured Streaming
    extension point for it).

    State per key: (session_start_epoch, last_epoch, n_events, total).
    A batch whose first event is > gap past the stored last_epoch closes
    the previous session (emits it) and starts a new one. Timeouts emit
    the final open session when the watermark passes. Output rows:
    (user_id, session_start, session_end, n_events, total_value).

    Event time crosses the Arrow boundary as a PLAIN DOUBLE of epoch
    seconds computed Spark-side (``ts.cast("double")`` on TIMESTAMP) —
    never as a datetime the Python worker must decode. Round-2 bug:
    ``rows[ts].astype("int64")/1e9`` read the Arrow int64 payload at
    microsecond scale under a datetime64[ns] label, shrinking every gap
    1000× so no session ever closed. Keeping time semantics JVM-side is
    the engine-wide policy; this operator now follows it.

    Scale: state lives in the state store partitioned by key; watermark
    bounds retention.

    Custom state by design: this row exercises the user state API
    itself; :func:`session_window` is the built-in form of a session.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"{key} long, session_start double, session_end double, "
        "n_events long, total_value double"
    )
    state_schema = "start double, last double, n long, total double"
    epoch_col = "__epoch_s"

    def fn(key_tuple, pdfs, state: GroupState):
        import pandas as pd  # re-import: runs on workers

        if state.hasTimedOut:
            start, last, n, total = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    key: [key_tuple[0]],
                    "session_start": [start],
                    "session_end": [last],
                    "n_events": [n],
                    "total_value": [total],
                }
            )
            return

        # per-key-per-batch body: single-chunk fast path + np.lexsort
        # (stable, same (epoch, event_id) order as sort_values — the
        # stateful_asof_enrich round-12 treatment)
        import numpy as np

        chunks = list(pdfs)
        rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
        ep_v = rows[epoch_col].to_numpy()
        id_v = rows["event_id"].to_numpy()
        val_v = rows[value_col].to_numpy()
        order = np.lexsort((id_v, ep_v))
        closed = []
        if state.exists:
            start, last, n, total = state.get
        else:
            start = last = float(ep_v[order[0]])
            n, total = 0, 0.0
        for i in order:
            ep = float(ep_v[i])
            if ep - last > gap_seconds:
                closed.append((start, last, n, total))
                start, n, total = ep, 0, 0.0
            last = ep
            n += 1
            total += float(val_v[i])
        state.update((start, last, n, total))
        state.setTimeoutTimestamp(int(last * 1000) + gap_seconds * 1000)
        if closed:
            yield pd.DataFrame(
                {
                    key: [key_tuple[0]] * len(closed),
                    "session_start": [c[0] for c in closed],
                    "session_end": [c[1] for c in closed],
                    "n_events": [c[2] for c in closed],
                    "total_value": [c[3] for c in closed],
                }
            )

    return (
        events.withColumn(epoch_col, F.col(ts_col).cast("double"))
        .withWatermark(ts_col, watermark)
        .groupBy(key)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


def force_pins(*frames: DataFrame) -> None:
    """Materialize persisted static frames NOW, at the session's current
    (batch) shuffle width — one bounded action per frame.

    A stream-static join's pinned static side is otherwise built lazily
    inside micro-batch 0, AFTER :func:`run_stream_to_memory` has clamped
    ``spark.sql.shuffle.partitions`` to the state width: the whole
    corpus-artifact build then runs serialized onto a handful of
    partitions inside one micro-batch (measured on
    q_stream_semantic_gate_parity at sf0.1: batch-0 addBatch carried
    ~65%% of the stream's wall; optimization round 12, guide §2.6 —
    don't let a serial phase hold the cluster idle). ``count()`` on a
    persisted frame populates the cache in full (the cache stores the
    plan's complete output, not the pruned projection).

    The counts are INDEPENDENT jobs, so they run from a small thread
    pool (guide §2.6 — overlap independent jobs: Spark's scheduler
    happily runs several jobs at once, and each pin's tail would
    otherwise leave the cluster idle while the next pin waits;
    optimization round 13). FIFO scheduling back-fills freed slots.

    Each pin thread inherits the caller's local properties (job group,
    job tags, description) and session tags, so the pin jobs show up
    under the caller's labels. The pins of one call also share a job tag:
    the first failing pin cancels the others' jobs and raises once they
    have stopped."""
    if len(frames) <= 1:
        for f in frames:
            f.count()
        return
    import uuid
    from concurrent.futures import ThreadPoolExecutor, as_completed

    from pyspark import inheritable_thread_target

    spark = frames[0].sparkSession
    sc = spark.sparkContext
    tag = f"force_pins-{uuid.uuid4().hex}"

    @inheritable_thread_target(spark)
    def pin(frame: DataFrame) -> None:
        sc.addJobTag(tag)
        frame.count()

    with ThreadPoolExecutor(max_workers=min(4, len(frames))) as pool:
        futures = [pool.submit(pin, f) for f in frames]
        try:
            for done in as_completed(futures):
                done.result()
        except BaseException:
            for fut in futures:
                fut.cancel()
            sc.cancelJobsWithTag(tag)
            raise


def run_stream_to_memory(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str,
    state_partitions: int | None = 8,
):
    """Drive a bounded streaming query to completion synchronously
    (memory sink; for tests/smoke — production sinks are files/kafka via
    writeStream with checkpointLocation).

    ``state_partitions`` sizes the stateful-operator partitioning
    (Structured Streaming pins ``spark.sql.shuffle.partitions`` into the
    checkpoint at query start, so this is a per-query constant anyway —
    never inherited batch tuning). Stateful-operator cost here is
    dominated by PER-STORE fixed work (each partition carries its own
    state stores with delta-file commits and maintenance snapshots):
    measured on the sf0.1 interval join, 32 partitions = 142 executor
    CPU-s for 46 output rows, 8 partitions = 9.1 CPU-s, identical
    results (PERF.md round-5). Size it to state volume — hundreds at
    100 TB state, single digits for fixture-scale state. ``None`` keeps
    the session's current width. The session conf is restored after the
    run (start() has already captured it). The query is stopped on the
    way out, also when the run raises."""
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
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return q
    finally:
        spark.conf.set(key, prev)


#: Names the memory sinks of :func:`stream_result`.
_RESULT_SEQ = itertools.count()

#: Seconds between the file mtimes of consecutive :func:`replay_source`
#: batches — whole seconds, so the order survives a file system that
#: keeps coarse mtimes.
_REPLAY_STEP_S = 1.0


@contextlib.contextmanager
def replay_source(batches):
    """The bounded replay of the streaming parity rows: write each
    DataFrame of ``batches`` as given (its partitioning is the caller's:
    one file per partition) into one fresh temp directory, and yield a
    ``maxFilesPerTrigger=1`` file stream over it whose schema is the
    first batch's.

    The file source replays oldest-modtime-first, so each batch's new
    files are stamped (``os.utime``) strictly after the previous
    batch's: the stream sees the batches in the given order whatever
    the wall clock did while writing them. A later batch whose column
    names or types differ from the first's raises (nullability aside —
    the file source reads every column as nullable).

    ``batches`` may be a generator (:func:`event_time_batches`): it is
    consumed one batch per write and closed on exit, so a pin it holds
    across its yields is released also when a write fails. The
    directory is removed on exit, also on error; run the stream inside
    the ``with`` block (:func:`stream_result` leaves no reader behind)."""
    import os
    import shutil
    import tempfile
    import time

    path = tempfile.mkdtemp(prefix="stream_replay_")
    try:
        first = None
        seen: set[str] = set()
        t0 = time.time()
        for i, batch in enumerate(batches):
            if first is None:
                first = batch.schema
            elif batch.schema.simpleString() != first.simpleString():
                raise ValueError(
                    f"replay_source: batch {i} has schema"
                    f" {batch.schema.simpleString()}, batch 0 has"
                    f" {first.simpleString()}"
                )
            batch.write.mode("append").parquet(path)
            ts = t0 + i * _REPLAY_STEP_S
            for f in os.listdir(path):
                if f.endswith(".parquet") and f not in seen:
                    os.utime(os.path.join(path, f), (ts, ts))
                    seen.add(f)
        if first is None:
            raise ValueError("replay_source: no batches")
        yield (
            batch.sparkSession.readStream.schema(first)
            .option("maxFilesPerTrigger", "1")
            .parquet(path)
        )
    finally:
        close = getattr(batches, "close", None)
        if close is not None:
            close()
        shutil.rmtree(path, ignore_errors=True)


def stream_result(
    out: DataFrame, output_mode: str, state_partitions: int | None = 8
) -> DataFrame:
    """Run the bounded stream ``out`` to completion into a memory sink
    (:func:`run_stream_to_memory`) and return the sink's rows as a batch
    frame.

    The memory sink holds its rows on the driver and the frame plans as
    a ``LocalTableScan`` of them: it needs neither the replayed files
    nor a copy into executor blocks, and it still collects after its
    view is dropped — so the view is dropped here, and a run leaves no
    catalog entry behind."""
    name = f"stream_result_{next(_RESULT_SEQ)}"
    run_stream_to_memory(out, name, output_mode, state_partitions)
    spark = out.sparkSession
    result = spark.table(name)
    spark.catalog.dropTempView(name)
    return result


def event_time_batches(
    df: DataFrame, n_files: int = 4, order_by: str = "doc_id"
):
    """``df`` cut into ``n_files`` ``order_by``-ntile groups, yielded in
    that order as one single-file batch each — for :func:`replay_source`,
    which replays them in that order: the in-event-time-order regime a
    watermark models (a crawl's ingest time is its arrival order).

    The tiled frame is pinned once across the yields (an eager
    ``localCheckpoint``): each batch's write would otherwise re-run the
    source scan and the global ntile sort (measured ~45% of
    q_stream_ingest_gate_parity's wall at sf0.1, PERF.md round 11). The
    pin is released when the generator finishes or is closed."""
    from pyspark.sql import Window

    with staged() as st:
        tiled = st.keep(
            df.withColumn(
                "__b", F.ntile(n_files).over(Window.orderBy(order_by))
            ).localCheckpoint(eager=True)
        )
        for g in range(1, n_files + 1):
            yield tiled.filter(F.col("__b") == g).drop("__b").coalesce(1)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "l_ts",
    right_ts: str = "r_ts",
    upper: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream (or batch-batch — same expression) interval join:
    rows pair when keys match and right_ts ∈ [left_ts, left_ts + upper].

    In streaming both inputs must carry watermarks; the time-bound
    condition lets Spark expire join state past
    watermark + upper instead of buffering the streams forever — the
    only state-bounded way to join two streams. The identical function
    applied to batch frames is the parity oracle.

    ``how="leftOuter"`` adds the late-decision semantics: a left row
    that found no match is emitted null-padded only when the global
    watermark passes ``left_ts + upper`` (its match window is provably
    closed); until then it stays buffered and produces nothing. The
    batch twin of the outer form must therefore filter its unmatched
    rows by the same final-watermark rule.
    """
    cond = (
        (left[key] == right[key])
        & (right[right_ts] >= left[left_ts])
        & (right[right_ts] <= left[left_ts] + F.expr(f"INTERVAL {upper}"))
    )
    return left.join(right, cond, how)


def idempotent_parquet_sink(path: str):
    """foreachBatch writer with exactly-once-on-retry semantics — the
    production sink pattern for file outputs.

    Structured Streaming guarantees foreachBatch is called with a
    monotonically-increasing ``batch_id``, and AFTER A FAILURE the same
    batch_id is retried with the same data — the sink must therefore be
    idempotent per batch_id or the output duplicates. Protocol here:
    one ``batch_id=N`` directory per epoch, ``mode("overwrite")`` so a
    partial previous attempt is replaced, and a ``_COMMITTED`` marker
    written last; a retry of a committed batch is a no-op. Readers
    that only trust marked directories see each epoch exactly once.

    Local-FS marker semantics; on an object store the marker becomes a
    row in a manifest table (same protocol, same three steps). Usage::

        stream.writeStream.foreachBatch(idempotent_parquet_sink(out))
              .option("checkpointLocation", ckpt).start()
    """
    import os

    def write_batch(df: DataFrame, batch_id: int) -> None:
        target = os.path.join(path, f"batch_id={batch_id}")
        marker = os.path.join(target, "_COMMITTED")
        if os.path.exists(marker):
            return
        df.write.mode("overwrite").parquet(target)
        open(marker, "w").close()

    return write_batch


def read_committed(spark: SparkSession, path: str) -> DataFrame:
    """Read back ONLY committed epochs of an idempotent_parquet_sink
    output (uncommitted = a crashed attempt's partial data)."""
    import os

    dirs = [
        os.path.join(path, d)
        for d in sorted(os.listdir(path))
        if d.startswith("batch_id=")
        and os.path.exists(os.path.join(path, d, "_COMMITTED"))
    ]
    if not dirs:
        raise FileNotFoundError(f"no committed batches under {path}")
    return spark.read.parquet(*dirs)


#: State schema of the operators whose state is a list of arrays, kept as
#: its JSON text (see :func:`stateful_heavy_hitters`).
_JSON_STATE = "state string"


def stateful_heavy_hitters(
    stream: DataFrame,
    capacity: int = 64,
    k: int = 5,
    group: str = "event_type",
    value: str = "user_id",
) -> DataFrame:
    """Streaming heavy hitters with BOUNDED state (applyInPandasWithState):
    per group, a SpaceSaving summary of at most ``capacity`` counters
    tracks the most frequent values across microbatches; each batch
    emits the current top-``k`` (update semantics).

    SpaceSaving's guarantees carry over exactly: every true count is ≤
    its reported count ≤ true + max_err, and with ``capacity`` ≥ the
    number of distinct values the summary is EXACT — the batch-parity
    test drives a one-batch stream and compares against a plain
    groupBy count. Eviction replaces the minimum counter
    (deterministic: min count, then lexicographically greatest value
    evicts first), so state is O(capacity) per group forever — the
    property that makes per-key frequency tracking viable over
    unbounded streams where exact maps would grow without limit. No
    built-in operator replaces it: a streaming count keeps a counter for
    every distinct value, and only SpaceSaving's eviction bounds that.

    State is one string column holding the JSON text of ``[vals, cnts,
    errs]``. With ``array<…>`` state columns Spark gives each trigger's
    state encoder a fresh ``MapObjects`` lambda-variable id, so every
    micro-batch generated new source text, missed the codegen cache and
    compiled its two projections again (~100 and ~17 ms, plus their JIT);
    a string column's encoder is the same text on every trigger.

    Output: (group, value, cnt, err, batch_rank).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"{group} string, {value} string, cnt long, err long, batch_rank int"
    )

    def fn(key_tuple, pdfs, state: GroupState):
        import json

        import pandas as pd  # worker-side import

        if state.hasTimedOut:  # pragma: no cover - no timeout configured
            state.remove()
            return
        summary: dict[str, tuple[int, int]] = {}
        if state.exists:
            vals, cnts, errs = json.loads(state.get[0])
            summary = {v: (int(c), int(e)) for v, c, e in zip(vals, cnts, errs)}
        for pdf in pdfs:
            for v, c in pdf[value].astype(str).value_counts().items():
                if v in summary:
                    cnt, err = summary[v]
                    summary[v] = (cnt + int(c), err)
                elif len(summary) < capacity:
                    summary[v] = (int(c), 0)
                else:
                    # evict the minimum counter (ties: lexicographically
                    # greatest value goes — picked directly with max over
                    # the min-count entries, since a per-char negation
                    # key mis-orders prefix pairs like 'ab'/'abc')
                    min_cnt = min(cv[0] for cv in summary.values())
                    evict = max(
                        (kv for kv in summary.items() if kv[1][0] == min_cnt),
                        key=lambda kv: kv[0],
                    )
                    mcnt = evict[1][0]
                    del summary[evict[0]]
                    summary[v] = (mcnt + int(c), mcnt)
        items = sorted(summary.items(), key=lambda kv: (-kv[1][0], kv[0]))
        state.update(
            (
                json.dumps(
                    [
                        [v for v, _ in items],
                        [c for _, (c, _) in items],
                        [e for _, (_, e) in items],
                    ]
                ),
            )
        )
        top = items[:k]
        yield pd.DataFrame(
            {
                group: [key_tuple[0]] * len(top),
                value: [v for v, _ in top],
                "cnt": [c for _, (c, _) in top],
                "err": [e for _, (_, e) in top],
                "batch_rank": list(range(1, len(top) + 1)),
            }
        )

    return (
        stream.select(group, F.col(value).cast("string").alias(value))
        .groupBy(group)
        .applyInPandasWithState(
            fn, out_schema, _JSON_STATE, "update", GroupStateTimeout.NoTimeout
        )
    )


def stateful_asof_enrich(
    events: DataFrame,
    key: str = "user_id",
    ts_col: str = "ep",
    seq_col: str = "event_id",
    kind_col: str = "event_type",
    update_kind: str = "click",
    lookup_kind: str = "purchase",
    ttl_seconds: int | None = None,
) -> DataFrame:
    """Streaming AS-OF enrichment (applyInPandasWithState) — the
    canonical feature-store join, which Spark has no native streaming
    operator for: per key, ``update_kind`` rows advance the stored
    latest-feature state and ``lookup_kind`` rows emit enriched with the
    latest strictly-preceding update (in (ts, seq) order), or NULLs when
    none has arrived yet. The batch twin is q_asof_join's
    last_value(ignore nulls) OVER (... ROWS UNBOUNDED PRECEDING TO 1
    PRECEDING) — the sequential walk below computes exactly that
    frame when the replay delivers each key's rows in nondecreasing
    (ts, seq) order across batches (the caller's time-split replay
    contract; within a batch the worker sorts).

    State per key: (last_update_seq, last_update_ts) — ONE row per key,
    updated in place, so state size is O(keys) regardless of stream
    length. ``ttl_seconds`` enforces the feature-staleness contract in
    two layers. (1) A SERVE-TIME gate: a lookup whose event time is more
    than ttl_seconds past the stored feature's time enriches with NULLs
    — never a stale feature — regardless of when state physically
    expires (timeouts only fire at micro-batch boundaries, so a gate is
    the only way the guarantee holds for same-batch lookups). (2) An
    EVENT-TIME timeout removes state for keys idle past the TTL, making
    state O(active keys in the TTL horizon). The timeout clock runs from
    the key's last activity (updates OR lookups), NOT the feature's age:
    Spark rejects timeout timestamps behind the current watermark, and a
    key receiving per-key-late lookups may legitimately hold uts far
    behind it — so layer (1) is what guarantees freshness of served
    features; layer (2) only bounds memory. The parity row passes
    ttl_seconds=None (keys live forever, no gate) so the batch twin
    stays exact; both TTL arms are law-tested in tests/test_wave40.py.

    Event time crosses the Arrow boundary as a PLAIN DOUBLE of epoch
    seconds computed Spark-side (the engine-wide policy — see
    stateful_session_stats' round-2 bug note). NULL enrichment uses
    pandas NULLABLE dtypes (Int64/Float64): a plain float NaN would
    arrive Spark-side as NaN, not NULL, and diverge from the SQL twin.

    Output: (key, seq, ts, asof_seq, asof_ts) — one row per lookup.
    No built-in operator replaces it: a stream-stream join emits every
    match in its time range, not the latest preceding one under a TTL.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"{key} long, {seq_col} long, {ts_col} double, "
        "asof_seq long, asof_ts double"
    )
    state_schema = "useq long, uts double"

    def fn(key_tuple, pdfs, state: GroupState):
        # This body runs PER KEY PER BATCH (thousands of calls per
        # micro-batch) — its per-call constant factor IS the operator's
        # executor cost (optimization round 12, guide §4): skip the
        # pd.concat copy for the common single-chunk delivery, sort via
        # np.lexsort on raw arrays instead of sort_values (both stable,
        # same (ts, seq) key order → identical permutation), and build
        # the output's nullable columns directly as IntegerArray/
        # FloatingArray (values + mask) instead of pd.array object
        # lists. Measured 1.18 → 0.40 ms per call on the fixture group
        # shape; values and dtypes bit-identical (Int64/Float64
        # nullables, same NULL positions).
        import numpy as np  # re-import: runs on workers
        import pandas as pd
        from pandas.arrays import FloatingArray, IntegerArray

        if state.hasTimedOut:
            # idle past the TTL: drop the feature — later lookups get
            # NULLs (stale features must never enrich)
            state.remove()
            return

        chunks = list(pdfs)
        rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
        sq_v = rows[seq_col].to_numpy()
        ts_v = rows[ts_col].to_numpy()
        kd_v = rows[kind_col].to_numpy()
        order = np.lexsort((sq_v, ts_v))  # stable (ts, seq) — the
        # sort_values([ts_col, seq_col]) permutation verbatim
        useq, uts = state.get if state.exists else (None, None)
        out_seq: list[int] = []
        out_ts: list[float] = []
        out_useq: list = []
        out_uts: list = []
        for i in order:
            kind = kd_v[i]
            if kind == update_kind:
                useq, uts = int(sq_v[i]), float(ts_v[i])
            elif kind == lookup_kind:
                ep = float(ts_v[i])
                out_seq.append(int(sq_v[i]))
                out_ts.append(ep)
                if (
                    useq is not None
                    and ttl_seconds is not None
                    and ep - uts > ttl_seconds
                ):
                    # serve-time staleness gate: the feature is older
                    # than the TTL relative to THIS lookup's event time
                    out_useq.append(None)
                    out_uts.append(None)
                else:
                    out_useq.append(useq)
                    out_uts.append(uts)
        if useq is not None:
            state.update((useq, uts))
            if ttl_seconds is not None:
                # state-size bound, NOT the freshness guarantee (that is
                # the serve-time gate above): expiry clock runs on EVENT
                # time from the last activity this key saw (updates or
                # lookups — uts alone could fall behind the watermark,
                # which Spark rejects), the stateful_session_stats
                # ms-truncation convention
                last_seen = float(ts_v.max()) if len(ts_v) else uts
                state.setTimeoutTimestamp(
                    int(max(last_seen, uts) * 1000) + ttl_seconds * 1000
                )
        if out_seq:
            n = len(out_seq)
            no_null = np.zeros(n, dtype=bool)
            amask = np.fromiter(
                (u is None for u in out_useq), dtype=bool, count=n
            )
            yield pd.DataFrame(
                {
                    key: IntegerArray(
                        np.full(n, key_tuple[0], dtype=np.int64), no_null
                    ),
                    seq_col: IntegerArray(
                        np.array(out_seq, dtype=np.int64), no_null.copy()
                    ),
                    ts_col: np.array(out_ts, dtype=np.float64),
                    "asof_seq": IntegerArray(
                        np.array(
                            [0 if u is None else u for u in out_useq],
                            dtype=np.int64,
                        ),
                        amask,
                    ),
                    "asof_ts": FloatingArray(
                        np.array(
                            [
                                np.nan if u is None else u
                                for u in out_uts
                            ],
                            dtype=np.float64,
                        ),
                        amask.copy(),
                    ),
                }
            )

    if ttl_seconds is None:
        return events.groupBy(key).applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    # EventTimeTimeout needs a watermarked TIMESTAMP column; derive it
    # from the double epoch (zero lateness: the replay contract already
    # delivers in order, so the watermark is purely the expiry clock)
    return (
        events.withColumn("__ts", F.timestamp_seconds(F.col(ts_col)))
        .withWatermark("__ts", "0 seconds")
        .groupBy(key)
        .applyInPandasWithState(
            fn,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def stateful_topk(
    stream: DataFrame,
    k: int = 5,
    group: str = "event_type",
    order_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Streaming per-group TOP-K BY SCORE with BOUNDED state
    (applyInPandasWithState) — the order-statistic sibling of
    :func:`stateful_heavy_hitters` (frequency): per group, state holds
    only the current k best (score, id) pairs; each microbatch merges
    the batch's rows into that heap and emits the current top-k
    (update semantics).

    Top-k selection is an idempotent, commutative, associative merge
    over sets (a semilattice): topk(A ∪ B) = topk(topk(A) ∪ B), so the
    final emission is EXACTLY the batch top-k over all rows regardless
    of how the stream was cut into microbatches or ordered within them
    — the batch-boundary-invariance law pinned in tests and the parity
    the driver row hash-checks. No arithmetic touches the score (pure
    comparisons on the parquet doubles), so the streaming result is
    bit-identical to the batch window.

    Ordering: (score desc, id asc) — the deterministic total order
    every top-k row in this repo uses. ``seen`` counts the rows this
    group has absorbed (monotone across batches), letting a readback
    select each group's LAST emission without a batch-id channel.

    State is one string column holding the JSON text of ``[ids, vs,
    seen]``, so that the state encoder's generated code is the same on
    every trigger (see :func:`stateful_heavy_hitters`). JSON writes each
    float's ``repr``, so every score round-trips bit for bit.

    Output: (group, id, score, seen, batch_rank). Scale: state is
    O(k) per group forever; emissions are k rows per group per batch;
    the merge work per batch is sort(|batch rows| + k) per group. No
    built-in aggregate keeps only the k best rows (``max`` keeps one,
    ``collect_list`` keeps all), so the bounded top-k is custom state.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"{group} string, {id_col} long, {order_col} double, "
        "seen long, batch_rank int"
    )

    def fn(key_tuple, pdfs, state: GroupState):
        import json

        import pandas as pd  # worker-side import

        if state.hasTimedOut:  # pragma: no cover - no timeout configured
            state.remove()
            return
        items: list[tuple[int, float]] = []
        seen = 0
        if state.exists:
            ids, vs, seen0 = json.loads(state.get[0])
            items = [(int(i), float(v)) for i, v in zip(ids, vs)]
            seen = int(seen0)
        for pdf in pdfs:
            seen += len(pdf)
            items.extend(
                zip(
                    pdf[id_col].astype("int64"),
                    pdf[order_col].astype("float64"),
                )
            )
        items.sort(key=lambda t: (-t[1], t[0]))
        items = items[:k]
        state.update(
            (
                json.dumps(
                    [
                        [int(i) for i, _ in items],
                        [float(v) for _, v in items],
                        seen,
                    ]
                ),
            )
        )
        yield pd.DataFrame(
            {
                group: [key_tuple[0]] * len(items),
                id_col: [int(i) for i, _ in items],
                order_col: [float(v) for _, v in items],
                "seen": [seen] * len(items),
                "batch_rank": list(range(1, len(items) + 1)),
            }
        )

    return (
        stream.select(
            F.col(group).cast("string").alias(group), id_col, order_col
        )
        .groupBy(group)
        .applyInPandasWithState(
            fn, out_schema, _JSON_STATE, "update", GroupStateTimeout.NoTimeout
        )
    )


def stateful_latest(
    stream: DataFrame,
    key: str = "user_id",
    order_cols: tuple[str, str] = ("ts_us", "event_id"),
    payload_cols: tuple[str, ...] = ("event_type", "value"),
) -> DataFrame:
    """Streaming LATEST-WINS compaction with O(1) state per key — the
    CDC/upsert MERGE semantics (q_cdc_latest) maintained continuously:
    per key, state holds only the current winning row by the (ts, id)
    total order, and each microbatch emits the current winner (update
    semantics).

    Latest-wins is an argmax over a total order (a semilattice), so it
    is a built-in streaming aggregation, ``max(struct(o1, o2,
    *payload_cols))``, kept in the JVM state store: no Python worker
    runs. The final emission equals the batch ROW_NUMBER window (ts
    DESC, id DESC) whatever the microbatch boundaries or intra-batch
    order — the invariance the law test permutes. No arithmetic touches
    any column (pure comparisons), so streaming ≡ batch bit-for-bit.
    Order columns must be integers (epoch micros computed Spark-side —
    the stateful_session epoch lesson). Tie rule: rows with equal
    (o1, o2) are ordered by their payload columns in turn, so the
    greatest payload wins (NULL lowest), whatever order they arrive in.

    Output: (key, *order_cols, *payload_cols, seen), each column of its
    input type — ``seen`` counts rows absorbed per key (monotone), so a
    readback selects each key's LAST emission without a batch-id
    channel. Scale: state is one row per key forever; emissions are one
    row per key per batch."""
    o1, o2 = order_cols
    in_types = {f.name: f.dataType.simpleString() for f in stream.schema}
    missing = [c for c in payload_cols if c not in in_types]
    if missing:
        raise ValueError(
            f"stateful_latest: payload column(s) {missing} not in the "
            f"stream schema ({sorted(in_types)})"
        )
    for c in order_cols:
        # A float order column would silently change tie behavior vs the
        # declared-integer contract (ADVICE r12) — fail loudly instead.
        if in_types.get(c) not in ("bigint", "int", "smallint", "tinyint"):
            raise ValueError(
                f"stateful_latest: order column {c!r} must be an integer"
                f" type (epoch micros computed Spark-side), got"
                f" {in_types.get(c)}"
            )
    cols = (o1, o2, *payload_cols)
    return (
        stream.groupBy(key)
        .agg(
            F.max(F.struct(*cols)).alias("__m"),
            F.count(F.lit(1)).alias("seen"),
        )
        .select(key, *[F.col(f"__m.{c}").alias(c) for c in cols], "seen")
    )
