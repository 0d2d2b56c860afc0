"""Round-8 streaming top-k laws (VERDICT r07 item 4): the bounded-state
per-group top-k must be invariant to how the stream is cut into
microbatches and ordered inside them — top-k is a semilattice merge
(topk(A ∪ B) = topk(topk(A) ∪ B)) and the operator must not break it
with any order- or boundary-dependent state handling."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(not os.path.isdir(SF), reason="no testdata")

K = 5


def _final_topk(spark, src_rows, n_files: int, order_col):
    """Replay ``src_rows`` as ``n_files`` microbatches (written in
    ``order_col`` order so the batch composition actually changes) and
    return the final per-group top-k as a sorted list of tuples."""
    from pyspark.sql import Window

    from incubator_flink_old_spark.streaming import (
        replay_source,
        stateful_topk,
        stream_result,
    )

    with replay_source(
        [src_rows.orderBy(order_col).repartition(n_files)]
    ) as stream:
        tbl = stream_result(
            stateful_topk(stream, k=K), "update", state_partitions=2
        )
    w = Window.partitionBy("event_type")
    return sorted(
        (r.event_type, r.event_id, r.value, r.batch_rank)
        for r in tbl.withColumn("mx", F.max("seen").over(w))
        .filter(F.col("seen") == F.col("mx"))
        .collect()
    )


def test_stream_topk_batch_boundary_invariance(spark):
    """The final emission must be identical across single-batch,
    multi-batch, and multi-batch-with-permuted-row-order replays, and
    equal the plain batch window — the law q_stream_topk_parity's
    driver hash rests on."""
    from incubator_flink_old_spark.queries._util import t

    rows = t(spark, SF, "events").select("event_type", "event_id", "value")
    single = _final_topk(spark, rows, 1, "event_id")
    multi = _final_topk(spark, rows, 4, "event_id")
    permuted = _final_topk(spark, rows, 4, "value")
    assert single == multi == permuted

    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), "event_id"
    )
    batch = sorted(
        (r.event_type, r.event_id, r.value, r.rnk)
        for r in rows.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= K)
        .collect()
    )
    assert single == batch


def test_stream_topk_state_is_k_bounded(spark):
    """Every emission carries at most k rows per group (state and
    output are O(k) regardless of stream length), and ``seen`` is
    monotone across a group's emissions."""
    from incubator_flink_old_spark.queries._util import t
    from incubator_flink_old_spark.streaming import (
        replay_source,
        stateful_topk,
        stream_result,
    )

    rows = t(spark, SF, "events").select("event_type", "event_id", "value")
    with replay_source([rows.repartition(3)]) as stream:
        tbl = stream_result(
            stateful_topk(stream, k=K), "update", state_partitions=2
        )
    per_emission = tbl.groupBy("event_type", "seen").count()
    assert per_emission.filter(F.col("count") > K).count() == 0
    # batch_rank within an emission is 1..n with no gaps
    ranks = tbl.groupBy("event_type", "seen").agg(
        F.min("batch_rank").alias("lo"),
        F.max("batch_rank").alias("hi"),
        F.count("*").alias("n"),
    )
    bad = ranks.filter(
        (F.col("lo") != 1) | (F.col("hi") != F.col("n"))
    ).count()
    assert bad == 0


def test_pq_encode_frozen_books_matches_trainer_assignment(spark):
    """grid_pq_encode_map against the trainer's own final codebooks must
    reproduce grid_pq's codes exactly — the factored encoder and the
    trainer's last assignment are the same arithmetic."""
    from incubator_flink_old_spark.operators.similarity import (
        grid_pq,
        grid_pq_encode_map,
    )
    from incubator_flink_old_spark.queries._util import t
    from incubator_flink_old_spark.queries.llm_ops11 import (
        _PQ_CENTROIDS,
        _PQ_ITERS,
        _PQ_M,
    )

    emb = t(spark, SF, "embeddings")
    codes, books = grid_pq(
        emb, m=_PQ_M, n_centroids=_PQ_CENTROIDS, iters=_PQ_ITERS
    )
    want = {(r.vec_id, r.j): r.code for r in codes.collect()}
    got = {
        (r.vec_id, r.j): r.code
        for r in grid_pq_encode_map(emb, books.collect(), m=_PQ_M).collect()
    }
    assert got == want


def test_pq_encode_split_invariance(spark):
    """Encoding is per-row pure given frozen books: any split of the
    delta encodes identically to encoding it whole — the incremental ≡
    batch law the maintenance row rests on (codes AND qerr)."""
    from incubator_flink_old_spark.operators.similarity import (
        grid_pq,
        grid_pq_encode_map,
    )
    from incubator_flink_old_spark.queries._util import t
    from incubator_flink_old_spark.queries.llm_ops11 import (
        _PQ_CENTROIDS,
        _PQ_ITERS,
        _PQ_M,
    )

    emb = t(spark, SF, "embeddings")
    base = emb.filter(F.col("vec_id") % 5 != 4)
    delta = emb.filter(F.col("vec_id") % 5 == 4)
    _, books = grid_pq(
        base, m=_PQ_M, n_centroids=_PQ_CENTROIDS, iters=_PQ_ITERS
    )
    books = books.collect()

    def enc(df):
        return {
            (r.vec_id, r.j): (r.code, r.qerr)
            for r in grid_pq_encode_map(df, books, m=_PQ_M).collect()
        }

    whole = enc(delta)
    part1 = enc(delta.filter(F.col("vec_id") % 2 == 0))
    part2 = enc(delta.filter(F.col("vec_id") % 2 == 1))
    assert {**part1, **part2} == whole
    assert not (set(part1) & set(part2))


def test_trainer_final_assignment_equals_frozen_reassign(spark):
    """grid_ivf's returned cells ARE the assignment against its final
    centers — so the maintained index (trainer cells ∪ frozen-center
    delta assigns) is exactly grid_assign_map of the union: the identity
    q_retrieval_lifecycle's maintained `ma` construction rests on."""
    from incubator_flink_old_spark.operators.similarity import (
        grid_assign_map,
        grid_ivf,
    )
    from incubator_flink_old_spark.queries._util import t
    from incubator_flink_old_spark.queries.llm_ops11 import (
        _ITERS,
        _N_CELLS,
    )

    emb = t(spark, SF, "embeddings")
    base = emb.filter(F.col("vec_id") % 5 != 4)
    cells, centers = grid_ivf(base, n_cells=_N_CELLS, iters=_ITERS)
    trained = {(r.vec_id, r.cell) for r in cells.select("vec_id", "cell").collect()}
    reassigned = {
        (r.vec_id, r.cell)
        for r in grid_assign_map(base, centers.collect()).collect()
    }
    assert trained == reassigned


def test_lifecycle_plan_no_cartesian_take_ordered(spark):
    """The lifecycle row keeps the hybrid plan posture: no shuffle
    cartesian (only the deliberate 1-row/n_cells-row broadcast nested
    loops), TakeOrdered cuts, hash joins on the corpus paths."""
    from incubator_flink_old_spark.plans import explain_str
    from incubator_flink_old_spark.queries.llm_ops27 import (
        q_retrieval_lifecycle,
    )

    plan = explain_str(q_retrieval_lifecycle(spark, SF))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_pq_encode_map_equals_join_form(spark):
    """The streaming-safe map-only PQ encode (codebooks as a literal
    array-of-arrays, fold-argmin) must reproduce the join+window form
    bit-for-bit on every (vector, subspace) — codes AND qerr, including
    the strict-improvement fold's tie-break matching ROW_NUMBER's
    (d asc, cid asc)."""
    from incubator_flink_old_spark.operators.similarity import (
        grid_pq,
        grid_pq_encode_map,
    )
    from tests.ann_join_reference import grid_pq_encode
    from incubator_flink_old_spark.queries._util import t
    from incubator_flink_old_spark.queries.llm_ops11 import (
        _PQ_CENTROIDS,
        _PQ_ITERS,
        _PQ_M,
    )

    emb = t(spark, SF, "embeddings")
    _, books = grid_pq(
        emb, m=_PQ_M, n_centroids=_PQ_CENTROIDS, iters=_PQ_ITERS
    )
    rows = books.collect()
    joined = {
        (r.vec_id, r.j): (r.code, r.qerr)
        for r in grid_pq_encode(emb, books).collect()
    }
    mapped = {
        (r.vec_id, r.j): (r.code, r.qerr)
        for r in grid_pq_encode_map(emb, rows, m=_PQ_M).collect()
    }
    assert mapped == joined


def test_pq_encode_map_rejects_empty_books(spark):
    """An empty codebook list is a caller bug — fail loudly (the
    grid_assign_map discipline)."""
    from incubator_flink_old_spark.operators.similarity import (
        grid_pq_encode_map,
    )
    from incubator_flink_old_spark.queries._util import t

    emb = t(spark, SF, "embeddings")
    with pytest.raises(ValueError, match="books_rows is empty"):
        grid_pq_encode_map(emb, [])


def test_stream_pq_encode_is_pure_map(spark):
    """The streaming PQ encode must be a pure per-row transform over
    the stream — no Exchange, no join, no window, no aggregate (the
    explode to m subspace rows is a stateless Generate): the property
    that lets it land codes at ingest throughput."""
    from incubator_flink_old_spark.operators.similarity import (
        grid_pq,
        grid_pq_encode_map,
    )
    from incubator_flink_old_spark.plans import explain_str
    from incubator_flink_old_spark.queries._util import t
    from incubator_flink_old_spark.queries.llm_ops11 import _PQ_M

    emb = t(spark, SF, "embeddings")
    _, books = grid_pq(emb, m=_PQ_M, n_centroids=4, iters=1)
    out = grid_pq_encode_map(emb, books.collect(), m=_PQ_M)
    plan = explain_str(out)
    for op in ("Exchange", "Join", "Window", "Aggregate"):
        assert op not in plan, op


def test_sq8_encode_map_equals_batch_form(spark):
    """The streaming-safe map-only SQ8 encode must reproduce the batch
    frozen-bounds clamped encoder bit-for-bit on every (vector, dim)."""
    from incubator_flink_old_spark.operators.similarity import (
        sq8_encode_map,
    )
    from incubator_flink_old_spark.queries._util import t
    from incubator_flink_old_spark.queries.llm_ops18 import (
        _SQ_LEVELS,
        _grid_vec,
        _sq_bounds,
        _sq_codes,
    )

    emb = t(spark, SF, "embeddings")
    base = emb.filter(F.col("vec_id") % 5 != 4)
    delta = emb.filter(F.col("vec_id") % 5 == 4)
    beg = base.select("vec_id", _grid_vec().alias("k"))
    deg = delta.select("vec_id", _grid_vec().alias("k"))
    bounds = _sq_bounds(beg).localCheckpoint(eager=True)
    batch = {}
    for r in _sq_codes(deg, bounds=bounds, clamp=True).collect():
        for i, c in enumerate(r.code):
            batch[(r.vec_id, i + 1)] = int(c)
    mapped = {
        (r.vec_id, r.p): int(r.c)
        for r in sq8_encode_map(
            delta, bounds.collect(), levels=_SQ_LEVELS
        ).collect()
    }
    assert mapped == batch


def test_sq8_encode_map_rejects_empty_bounds(spark):
    from incubator_flink_old_spark.operators.similarity import (
        sq8_encode_map,
    )
    from incubator_flink_old_spark.queries._util import t

    emb = t(spark, SF, "embeddings")
    with pytest.raises(ValueError, match="bounds_rows is empty"):
        sq8_encode_map(emb, [])


def test_stream_sq8_encode_is_pure_map(spark):
    """No Exchange/Join/Window/Aggregate — lands at ingest throughput."""
    from incubator_flink_old_spark.operators.similarity import (
        sq8_encode_map,
    )
    from incubator_flink_old_spark.plans import explain_str
    from incubator_flink_old_spark.queries._util import t
    from incubator_flink_old_spark.queries.llm_ops18 import (
        _grid_vec,
        _sq_bounds,
    )

    emb = t(spark, SF, "embeddings")
    bounds = _sq_bounds(emb.select("vec_id", _grid_vec().alias("k")))
    plan = explain_str(sq8_encode_map(emb, bounds.collect()))
    for op in ("Exchange", "Join", "Window", "Aggregate"):
        assert op not in plan, op


def _final_latest(spark, rows, n_files: int, order_col):
    return _replay_latest([rows.orderBy(order_col).repartition(n_files)])


def _replay_latest(batches):
    """Replay ``batches`` one file per trigger through stateful_latest and
    return each key's last emission as sorted (user_id, event_id,
    event_type, value) tuples."""
    from pyspark.sql import Window

    from incubator_flink_old_spark.streaming import (
        replay_source,
        stateful_latest,
        stream_result,
    )

    with replay_source(batches) as stream:
        changes = stream.select(
            "user_id", "ts_us", "event_id", "event_type", "value"
        )
        tbl = stream_result(
            stateful_latest(changes), "update", state_partitions=2
        )
    w = Window.partitionBy("user_id")
    return sorted(
        (r.user_id, r.event_id, r.event_type, r.value)
        for r in tbl.withColumn("mx", F.max("seen").over(w))
        .filter(F.col("seen") == F.col("mx"))
        .collect()
    )


def test_stream_cdc_batch_boundary_invariance(spark):
    """Latest-wins is an argmax semilattice: the final per-key winner
    must be identical across single-batch, multi-batch, and
    permuted-order replays, and equal the batch ROW_NUMBER window."""
    from pyspark.sql import Window

    from incubator_flink_old_spark.queries._util import t

    rows = t(spark, SF, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_id",
        "event_type",
        "value",
    )
    single = _final_latest(spark, rows, 1, "event_id")
    multi = _final_latest(spark, rows, 4, "event_id")
    permuted = _final_latest(spark, rows, 4, "value")
    assert single == multi == permuted

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )
    batch = sorted(
        (r.user_id, r.event_id, r.event_type, r.value)
        for r in rows.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    )
    assert single == batch


def test_stream_cdc_exact_tie_breaks_by_payload(spark):
    """An exact (ts_us, event_id) tie between rows with different
    payloads goes to the greatest payload whichever row arrives first:
    the tie rule is part of the order, so boundary invariance holds on
    ties too. Each row is its own micro-batch, in both arrival orders."""
    from incubator_flink_old_spark.sources import local_rows
    from incubator_flink_old_spark.streaming import event_time_batches

    rows = local_rows(
        spark,
        [(1, 100, 7, "a", 2.0, 0, 1), (1, 100, 7, "b", 1.0, 1, 0)],
        "user_id long, ts_us long, event_id long, event_type string, "
        "value double, a_first long, b_first long",
    )
    got = {}
    for order in ("a_first", "b_first"):
        got[order] = _replay_latest(
            event_time_batches(rows, n_files=2, order_by=order)
        )
    assert got["a_first"] == got["b_first"] == [(1, 7, "b", 1.0)], got


def test_prefix_refine_laws(spark):
    """Dimension-truncation tier laws: (1) refine_c ≥ pool ⇒ identical
    recall to the exact full-dim ranking over the probed cells (the
    truncation can no longer cost anything); (2) prefix = full dim ⇒
    stage A IS the exact ranking, so recall matches at the shipped
    refine_c too; (3) recall is monotone nondecreasing in refine_c."""
    from incubator_flink_old_spark.queries._util import t
    from incubator_flink_old_spark.queries.llm_ops11 import _DIM
    from incubator_flink_old_spark.queries.llm_ops27 import (
        _prefix_refine_recall_df,
    )

    n = t(spark, SF, "embeddings").count()
    unbounded = {
        r.q_id: r.hits
        for r in _prefix_refine_recall_df(spark, SF, refine_c=n).collect()
    }
    fulldim = {
        r.q_id: r.hits
        for r in _prefix_refine_recall_df(
            spark, SF, refine_c=n, prefix=_DIM
        ).collect()
    }
    assert unbounded == fulldim
    prev = None
    for c in (5, 20, 80):
        cur = sum(
            r.hits
            for r in _prefix_refine_recall_df(spark, SF, refine_c=c).collect()
        )
        if prev is not None:
            assert cur >= prev
        prev = cur
    assert prev <= sum(unbounded.values())
