"""Training-data pipeline queries, wave 34: STRONGLY connected
components (the directed-graph membership the CC family deliberately
symmetrizes away) and CHECKPOINT-RESTART recovery parity (a streaming
aggregation killed mid-stream and resumed as a NEW query instance from
its checkpoint must converge to the batch answer — the crash-recovery
half of exactly-once, complementing q_stream_exactly_once_sink's
idempotent-write half).

Env waiver recorded here (tests/test_wave34.py self-gates it): Spark
4's transformWithStateInPandas requires google.protobuf in the Python
workers, which this container does not ship (no network, no pip) — the
API surface import is asserted, the execution path is waived exactly
like S8/Avro's missing-jar waiver. The custom-stateful-operator
semantics remain driver-covered via applyInPandasWithState
(q_stream_custom_state_parity).
"""

from __future__ import annotations

import itertools
import os
import shutil
import tempfile

from pyspark.sql import functions as F

from incubator_flink_old_spark.queries import register
from incubator_flink_old_spark.queries._util import t
from incubator_flink_old_spark.queries.iterations import EDGES_SQL, edges_df

_SEQ = itertools.count()

# ---------------------------------------------------------------------------
# Strongly connected components
# ---------------------------------------------------------------------------

_SCC_ORACLE = f"""
    WITH RECURSIVE edges AS ({EDGES_SQL}),
    uniq AS (SELECT DISTINCT src, dst FROM edges),
    tc(src, dst) AS (
        SELECT src, dst FROM uniq
        UNION
        SELECT t.src, e.dst FROM tc t JOIN uniq e ON t.dst = e.src
    ),
    verts AS (
        SELECT src AS id FROM uniq UNION SELECT dst AS id FROM uniq),
    mutual AS (
        SELECT a.src AS id, a.dst AS other
        FROM tc a JOIN tc b ON a.src = b.dst AND a.dst = b.src
        UNION
        SELECT id, id AS other FROM verts),
    scc AS (SELECT id, MIN(other) AS scc_id FROM mutual GROUP BY id)
    SELECT s.id, s.scc_id, CAST(c.n AS BIGINT) AS scc_size
    FROM scc s
    JOIN (SELECT scc_id, COUNT(*) AS n FROM scc GROUP BY scc_id) c
      ON s.scc_id = c.scc_id
    """


@register("q_scc", oracle=_SCC_ORACLE)
def q_scc(spark, sf_dir):
    """STRONGLY connected components of the directed fixture graph:
    scc_id(v) = min over every u with v→u AND u→v (plus v itself) —
    computed from the transitive closure the I1 bulk-iteration operator
    already produces, self-joined on reversed pairs for mutuality. The
    directed complement of q_iterate_cc (which symmetrizes edges and
    answers weak connectivity): a cycle A→B→A is one SCC, a chain
    A→B is two.

    Exactness: the closure is a fixpoint (iteration count can only
    overshoot, never change the set), mutuality is an equi-join, and
    min/count are order-free — no float anywhere.

    Scale honesty: closure-based SCC is the EXACT pedagogical form and
    is O(reachable pairs) — right for this bounded derived graph (≤200
    vertices by construction, FIXTURES.md §2) and for the
    ownership/billing hierarchies of that shape. Web-scale SCC runs
    forward-backward reachability decomposition (trim + pivot) on the
    same iterate primitive; the pair blow-up, not the algorithm, is the
    bound — same positioning as q_transitive_closure."""
    from incubator_flink_old_spark.operators.graph import transitive_closure

    edges = edges_df(spark, sf_dir)
    tc = transitive_closure(edges, max_iterations=50)
    rev = tc.select(F.col("dst").alias("r_src"), F.col("src").alias("r_dst"))
    mutual = tc.join(
        rev, (tc.src == F.col("r_src")) & (tc.dst == F.col("r_dst"))
    ).select(F.col("src").alias("id"), F.col("dst").alias("other"))
    verts = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    mutual = mutual.union(verts.select("id", F.col("id").alias("other")))
    scc = mutual.groupBy("id").agg(F.min("other").alias("scc_id"))
    sizes = scc.groupBy("scc_id").agg(F.count(F.lit(1)).alias("scc_size"))
    return scc.join(sizes, on="scc_id").select("id", "scc_id", "scc_size")


# ---------------------------------------------------------------------------
# Checkpoint-restart recovery parity
# ---------------------------------------------------------------------------

_RESTART_ORACLE = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    """


@register("q_stream_restart_recovery", oracle=_RESTART_ORACLE)
def q_stream_restart_recovery(spark, sf_dir):
    """CRASH-RECOVERY parity: a streaming aggregation is run over the
    first half of the events, STOPPED (the process-death stand-in),
    and a brand-new query instance is started from the same checkpoint
    after the second half appears — the recovered instance must report
    exactly the batch aggregate over everything. This exercises the
    two recovery guarantees a 100 TB pipeline leans on daily: source
    OFFSET tracking (the restarted query must not re-read half 1 —
    asserted via progress counters in tests/test_wave34.py) and STATE
    restoration (half 1's partial aggregates come back from the
    checkpoint, not from reprocessing).

    The split is deterministic (event_id parity), sums ride the
    decimal-staged dsum contract, and complete-mode output makes the
    final table the full recovered state."""
    src = tempfile.mkdtemp(prefix="flinkold_restart_src_")
    ck = tempfile.mkdtemp(prefix="flinkold_restart_ck_")
    try:
        ev = t(spark, sf_dir, "events")
        ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
            os.path.join(src, "half0")
        )

        schema = (
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string"
        )

        def agg_stream():
            stream = (
                spark.readStream.schema(schema)
                .format("parquet")
                .load(os.path.join(src, "*"))
            )
            return stream.groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(27,6)"))
                .cast("double")
                .alias("sum_value"),
            )

        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            name1 = f"restart_run1_{next(_SEQ)}"
            q1 = (
                agg_stream()
                .writeStream.outputMode("complete")
                .format("memory")
                .queryName(name1)
                .option("checkpointLocation", ck)
                .start()
            )
            q1.processAllAvailable()
            q1.stop()
            q1.awaitTermination()
            spark.catalog.dropTempView(name1)

            # the second half lands while no query is running
            ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
                os.path.join(src, "half1")
            )

            name2 = f"restart_run2_{next(_SEQ)}"
            q2 = (
                agg_stream()
                .writeStream.outputMode("complete")
                .format("memory")
                .queryName(name2)
                .option("checkpointLocation", ck)
                .start()
            )
            q2.processAllAvailable()
            q2.stop()
            q2.awaitTermination()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        # The memory sink holds its rows on the driver: the frame needs
        # neither its view nor the dirs removed below.
        result = spark.table(name2)
        spark.catalog.dropTempView(name2)
        return result
    finally:
        shutil.rmtree(ck, ignore_errors=True)
        shutil.rmtree(src, ignore_errors=True)


@register("q_scc_fb", oracle=_SCC_ORACLE)
def q_scc_fb(spark, sf_dir):
    """SCC by TRIM + multi-pivot FORWARD-BACKWARD decomposition
    (operators/graph.scc_forward_backward) — the SCALABLE path q_scc's
    docstring positions against the closure form, now driver-checked
    against the same oracle. No transitive closure is ever
    materialized: singleton SCCs fall out of iterative trimming (a DAG
    decomposes entirely this way), the rest via per-weak-component
    pivots whose forward/backward reachability runs as multi-source
    delta iterations (state = labelled wavefront pairs, bounded by |V|
    per pivot generation). Equality with the closure construction is
    also law-tested on random digraphs (tests/test_scc_fb.py).

    Scale: rounds ≤ trim passes + the longest SCC chain per weak
    component; per-round cost is frontier equi-joins — the
    web/citation-graph shape where closures are untouchable."""
    from incubator_flink_old_spark.operators.graph import scc_forward_backward

    scc = scc_forward_backward(edges_df(spark, sf_dir))
    sizes = scc.groupBy("scc_id").agg(F.count(F.lit(1)).alias("scc_size"))
    return scc.join(sizes, on="scc_id").select("id", "scc_id", "scc_size")
