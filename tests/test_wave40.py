"""Round-6 ADVICE hardening laws: z-order quantize clamps BOTH sides
(below-bounds deltas must not sign-extend through interleave_bits) and
the integer-grid cosine's zero-norm sentinel (NaN would rank
differently across engines). Each pins the exact failure mode from
ADVICE r05 items 3-4."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_quantize_clamps_below_lo(spark):
    from incubator_flink_old_spark.operators.layout import (
        interleave_bits,
        quantize,
    )

    # values straddle the recorded bounds [100, 200] on both sides
    df = spark.createDataFrame(
        [(-50,), (50,), (100,), (150,), (200,), (999,)], "x long"
    )
    out = df.select(
        "x",
        quantize(F.col("x"), 100, 200, bits=8).alias("q"),
        interleave_bits([quantize(F.col("x"), 100, 200, bits=8)], bits=8).alias(
            "z"
        ),
    ).collect()
    by_x = {r.x: r for r in out}
    top = (1 << 8) - 1
    for r in out:
        assert 0 <= r.q <= top, (r.x, r.q)
        assert 0 <= r.z, (r.x, r.z)  # no sign-extension scrambling
    # below-bounds degrades to the LOW boundary cell, above to the high
    assert by_x[-50].q == by_x[100].q == 0
    assert by_x[999].q == top
    # monotone within bounds
    assert by_x[100].q <= by_x[150].q <= by_x[200].q


def test_cosine_safe_zero_norm_sentinel(spark):
    from incubator_flink_old_spark.operators.similarity import cosine_safe

    df = spark.createDataFrame(
        [
            (1, [0.0, 0.0], [1.0, 0.0]),  # zero-norm left
            (2, [1.0, 0.0], [0.0, 0.0]),  # zero-norm right
            (3, [1.0, 0.0], [1.0, 0.0]),  # plain
            (4, [0.0, 0.0], [0.0, 0.0]),  # both zero
        ],
        "id long, a array<double>, b array<double>",
    )
    rows = {
        r.id: r.c
        for r in df.select("id", cosine_safe("a", "b").alias("c")).collect()
    }
    assert rows[1] == -2.0 and rows[2] == -2.0 and rows[4] == -2.0
    assert rows[3] == pytest.approx(1.0)
    # sentinel ranks strictly below any true cosine (>= -1)
    assert all(v >= -2.0 for v in rows.values())


def test_sql_cos_guard_matches_spark_sentinel():
    """The DuckDB oracle expression must produce the same -2.0 sentinel
    on zero-norm grid vectors as cosine_safe, so ROW_NUMBER ranking
    replays identically."""
    duckdb = pytest.importorskip("duckdb")
    from incubator_flink_old_spark.queries.llm_ops11 import _sql_cos

    con = duckdb.connect()
    expr = _sql_cos("a", "b")  # transform=True (grid path)
    got = con.execute(
        f"""
        SELECT id, {expr} AS c FROM (VALUES
            (1, [0,0]::BIGINT[], [1,0]::BIGINT[]),
            (2, [1,0]::BIGINT[], [0,0]::BIGINT[]),
            (3, [1,0]::BIGINT[], [1,0]::BIGINT[]),
            (4, [0,0]::BIGINT[], [0,0]::BIGINT[])
        ) AS t(id, a, b) ORDER BY id
        """
    ).fetchall()
    vals = dict(got)
    assert vals[1] == -2.0 and vals[2] == -2.0 and vals[4] == -2.0
    assert vals[3] == pytest.approx(1.0)


import os

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.mark.skipif(not os.path.isdir(SF), reason="no testdata")
def test_ivfsq8_all_cells_equals_plain_sq8(spark):
    """Composition LAW (the ivfpq precedent, VERDICT r05 item 3): with
    n_probe = n_cells the IVF prune admits every vector, so IVF+SQ8 must
    be IDENTICAL to plain SQ8 — same codes, same distance, same
    tie-break. Any drift means the composition changed the quantizer or
    the ranking, not just the candidate set."""
    from incubator_flink_old_spark.queries import QUERIES, load_all_queries
    from incubator_flink_old_spark.queries.llm_ops11 import _N_CELLS
    from incubator_flink_old_spark.queries.llm_ops25 import _ivfsq8_recall_df

    load_all_queries()
    comp = sorted(
        (r.q_id, r.hits, r.recall)
        for r in _ivfsq8_recall_df(spark, SF, n_probe=_N_CELLS).collect()
    )
    plain = sorted(
        (r.q_id, r.hits, r.recall)
        for r in QUERIES["q_ann_recall_sq8"](spark, SF).collect()
    )
    assert comp == plain and len(comp) > 0


@pytest.mark.skipif(not os.path.isdir(SF), reason="no testdata")
def test_ivfsq8_pruned_bounds(spark):
    """The registered (pruned) row: one row per query, hits in [0, k],
    recall = hits/k exactly."""
    from incubator_flink_old_spark.queries import QUERIES, load_all_queries
    from incubator_flink_old_spark.queries.llm_ops11 import _N_QUERIES, _TOPK

    load_all_queries()
    rows = QUERIES["q_ann_recall_ivfsq8"](spark, SF).collect()
    assert len(rows) == _N_QUERIES
    for r in rows:
        assert 0 <= r.hits <= _TOPK
        assert abs(r.recall - r.hits / _TOPK) < 1e-12


# --------------------------------------------------------------------------
# stateful_asof_enrich operator laws (tiny replay, arm-level)
# --------------------------------------------------------------------------
def _asof_replay(spark, tmp_path, batches):
    """Drive stateful_asof_enrich over an explicit batch sequence
    (list of row-lists); returns sorted (user, event, asof_seq) rows."""
    import time as _time

    from incubator_flink_old_spark.streaming import (
        run_stream_to_memory,
        stateful_asof_enrich,
    )

    schema = "user_id long, event_id long, ep double, event_type string"
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    for i, rows in enumerate(batches):
        before = set(os.listdir(src)) if i else set()
        spark.createDataFrame(rows, schema).repartition(1).write.mode(
            "overwrite" if i == 0 else "append"
        ).parquet(src)
        if i:
            bump = _time.time() + 1800 * i
            for f in os.listdir(src):
                if f.endswith(".parquet") and f not in before:
                    os.utime(os.path.join(src, f), (bump, bump))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = stateful_asof_enrich(stream)
    name = f"asof_law_{abs(hash(str(tmp_path))) % 10**8}"
    run_stream_to_memory(out, name, "append", state_partitions=2)
    return sorted(
        (r.user_id, r.event_id, r.asof_seq, r.asof_ts)
        for r in spark.table(name).collect()
    )


def test_asof_null_before_any_update(spark, tmp_path):
    # purchase before any click → NULL enrichment (true NULL, not NaN)
    rows = _asof_replay(
        spark, tmp_path, [[(1, 10, 100.0, "purchase"), (1, 11, 200.0, "click")]]
    )
    assert rows == [(1, 10, None, None)]


def test_asof_state_crosses_batches(spark, tmp_path):
    # click in batch 0 enriches purchases in batches 1 and 2; a newer
    # click supersedes for later lookups only
    rows = _asof_replay(
        spark,
        tmp_path,
        [
            [(7, 1, 100.0, "click")],
            [(7, 2, 200.0, "purchase"), (7, 3, 250.0, "click")],
            [(7, 4, 300.0, "purchase")],
        ],
    )
    assert rows == [(7, 2, 1, 100.0), (7, 4, 3, 250.0)]


def test_asof_same_ts_order_by_event_id(spark, tmp_path):
    # equal epochs: (ts, event_id) order decides — the click with the
    # lower event_id precedes the purchase, matching the batch window's
    # ROWS ... 1 PRECEDING frame
    rows = _asof_replay(
        spark,
        tmp_path,
        [[(3, 5, 100.0, "click"), (3, 6, 100.0, "purchase")]],
    )
    assert rows == [(3, 6, 5, 100.0)]


@pytest.mark.skipif(not os.path.isdir(SF), reason="no testdata")
def test_two_stage_recall_monotone_in_candidates(spark):
    """Stage-1 knob law (VERDICT r05 item 5): because the rerank is a
    deterministic total order on (dense_ip DESC, doc_id), any full-truth
    doc admitted to the candidate set outranks every non-truth candidate
    — so recall@k(N) == |full-top-k ∩ candidates(N)| / k exactly, and is
    monotone nondecreasing in N. PERF.md "Round 6: two-stage retrieval"
    measures the same quantity at sf0.1 and 16x."""
    from incubator_flink_old_spark.operators.retrieval import bm25_topk
    from incubator_flink_old_spark.queries._util import t
    from incubator_flink_old_spark.queries.llm_ops18 import (
        _TS_TERMS,
        _two_stage_topk,
    )
    from pyspark.sql import functions as F

    docs = t(spark, SF, "documents")
    emb = t(spark, SF, "embeddings")
    k = 10
    top3 = bm25_topk(docs, terms=_TS_TERMS, top_k=3).localCheckpoint(
        eager=True
    )
    # stitch precondition (ADVICE r06): the true top-3 must exist and
    # carry strictly positive scores, else the bm25=0 filler rows could
    # win the PRF feedback ordering and silently change the query vector
    top3_rows = top3.select("doc_id", "bm25").collect()
    assert len(top3_rows) == 3
    assert min(r.bm25 for r in top3_rows) > 0
    full_cand = (
        docs.select("doc_id", F.lit(0.0).alias("bm25"))
        .join(top3.select("doc_id"), on="doc_id", how="left_anti")
        .unionByName(top3)
    )
    truth = {
        r.doc_id
        for r in _two_stage_topk(docs, emb, final_k=k, cand=full_cand).collect()
    }
    assert len(truth) == k
    hits = []
    for n in (5, 15, 40):
        cand = bm25_topk(docs, terms=_TS_TERMS, top_k=n).localCheckpoint(
            eager=True
        )
        cset = {r.doc_id for r in cand.collect()}
        got = {
            r.doc_id
            for r in _two_stage_topk(docs, emb, final_k=k, cand=cand).collect()
        }
        assert len(got & truth) == len(truth & cset)  # containment identity
        hits.append(len(got & truth))
    assert hits == sorted(hits)  # monotone in N


def test_asof_ttl_expires_idle_keys(spark, tmp_path):
    """Both TTL arms (ADVICE r06): (1) the SERVE-TIME gate — a lookup
    whose event time is > ttl past the stored feature's time gets NULLs
    even while the state row is still physically alive (timeouts only
    fire at batch boundaries); (2) the event-time timeout — a key idle
    past the TTL is expired, so its state is gone regardless. A fresh
    feature within the TTL is served. Batch layout: clicks land,
    other-key traffic advances the watermark far past click_ts + ttl, an
    empty batch lets the committed watermark apply (the late-drop lag
    rule), then the lookups."""
    import time as _time

    from incubator_flink_old_spark.streaming import (
        run_stream_to_memory,
        stateful_asof_enrich,
    )
    from pyspark.sql import functions as F

    schema = "user_id long, event_id long, ep double, event_type string"
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    batches = [
        [(1, 1, 100.0, "click")],
        # advances watermark >> 100+ttl; user 3's click seeds the
        # fresh-feature case
        [(2, 2, 100_000.0, "click"), (3, 5, 100_000.0, "click")],
        [],                              # batch boundary: watermark applies
        [
            (1, 3, 200_000.0, "purchase"),
            (2, 4, 200_000.0, "purchase"),
            (3, 6, 200_100.0, "click"),
            (3, 7, 200_150.0, "purchase"),
        ],
    ]
    for i, rows in enumerate(batches):
        before = set(os.listdir(src)) if i else set()
        spark.createDataFrame(rows, schema).repartition(1).write.mode(
            "overwrite" if i == 0 else "append"
        ).parquet(src)
        if i:
            bump = _time.time() + 1800 * i
            for f in os.listdir(src):
                if f.endswith(".parquet") and f not in before:
                    os.utime(os.path.join(src, f), (bump, bump))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = stateful_asof_enrich(stream, ttl_seconds=600)
    name = "asof_ttl_law"
    run_stream_to_memory(out, name, "append", state_partitions=2)
    rows = {
        r.event_id: (r.asof_seq, r.asof_ts)
        for r in spark.table(name).collect()
    }
    # user 1's click (ts=100) expired before its lookup (watermark
    # passed 100+600 at the batch-2 boundary) → NULLs (timeout arm).
    # user 2's state is still ALIVE when its lookup is processed (a
    # trigger processes data before its timeouts), but the feature is
    # 100_000 s old vs ttl=600 → the serve-time gate NULLs it.
    # user 3's click at 200_100 is 50 s old at the 200_150 lookup —
    # within the TTL → served.
    assert rows[3] == (None, None)
    assert rows[4] == (None, None)
    assert rows[7] == (6, 200_100.0)
