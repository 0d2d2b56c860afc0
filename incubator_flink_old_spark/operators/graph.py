"""Graph & ML library on the iteration core (SURVEY §2.9 G1–G5).

Reference: Spargel (stratosphere-spargel VertexCentricIteration — the
Pregel clone built on delta iterations) and the canonical example programs
(ConnectedComponents, PageRankBasic/DanglingPageRank, KMeans,
EnumTriangles, TransitiveClosure). This engine rebuilds them as DataFrame
programs over bulk_iterate/delta_iterate — PySpark-native, no GraphX.

Scale notes common to all: edges/vertices shuffle on their join keys each
round; the delta-iterate forms shrink the active set so late rounds touch
a fraction of the graph (the PVLDB'12 result); lineage is truncated per
round by the iteration core.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from incubator_flink_old_spark.operators.iterations import bulk_iterate, delta_iterate
from incubator_flink_old_spark.session import release, staged

DEFAULT_GRAPH_MAX_ITER = 30


def pregel(
    vertices: DataFrame,
    edges: DataFrame,
    message,
    combine,
    update,
    max_iterations: int = DEFAULT_GRAPH_MAX_ITER,
) -> DataFrame:
    """G1: general Spargel vertex-centric iteration (VertexUpdateFunction
    + MessagingFunction + combiner), bulk-synchronous.

    vertices: (id, value); edges: (src, dst, …edge attrs).
    ``message``: Column expr over the joined row (columns: ``value`` of
    the source vertex + edge attrs) producing the message sent to dst.
    ``combine``: aggregate Column over column ``msg`` (per dst vertex).
    ``update``: Column expr over ``value`` (old) and ``agg_msg``
    (combined messages; NULL when the vertex received none) producing the
    new value.

    Terminates when no vertex value changes or at max_iterations. The
    change counter rides the round itself as an ``observe()`` metric
    (old and new value coexist in the update row, so the flag is a free
    Column expression) and is collected by the round's own
    materialization action — NO extra per-round job, where a prev⋈cur
    join-and-count would add a shuffle + job every superstep. For
    monotone min/max propagation prefer :func:`pregel_min_propagation` —
    its shrinking delta workset does asymptotically less work per round.
    """
    from pyspark.sql import Observation

    observations: dict[int, Observation] = {}

    def step(vs: DataFrame, i: int) -> DataFrame:
        msgs = (
            edges.join(vs, edges["src"] == vs["id"])
            .select(F.col("dst").alias("id"), message.alias("msg"))
            .groupBy("id")
            .agg(combine.alias("agg_msg"))
        )
        new = vs.join(msgs, on="id", how="left").select(
            "id", F.col("value").alias("__old"), update.alias("value")
        )
        obs = Observation(f"pregel_converged_{i}")
        observations[i] = obs
        return (
            new.withColumn(
                "__changed",
                (~F.col("__old").eqNullSafe(F.col("value"))).cast("long"),
            )
            .observe(obs, F.coalesce(F.sum("__changed"), F.lit(0)).alias("n_changed"))
            .drop("__old", "__changed")
        )

    def converged(prev: DataFrame, cur: DataFrame, i: int) -> bool:
        # bulk_iterate materialized `cur` already — the metric is in hand.
        return observations.pop(i).get["n_changed"] == 0

    return bulk_iterate(
        vertices, step, max_iterations=max_iterations, converged=converged
    )


def pregel_min_propagation(
    vertices: DataFrame,
    edges: DataFrame,
    max_iterations: int = DEFAULT_GRAPH_MAX_ITER,
) -> DataFrame:
    """G1: Spargel-style vertex-centric min-propagation (the
    VertexUpdateFunction/MessagingFunction pair specialized to the
    min-combiner — covers ConnectedComponents, SSSP, reachability).

    vertices: (id: long, value: double/long) — initial vertex state.
    edges: (src: long, dst: long, delta) — message to dst = value(src) +
    delta (0 for label propagation, weight for shortest paths).

    Delta-iteration semantics: only vertices whose value improved last
    superstep send messages (the shrinking workset); terminates when no
    vertex improves or at max_iterations.
    """

    def step(solution: DataFrame, workset: DataFrame, _i: int):
        msgs = (
            workset.alias("w")
            .join(edges.alias("e"), F.col("w.id") == F.col("e.src"))
            .select(
                F.col("e.dst").alias("id"),
                (F.col("w.value") + F.col("e.delta")).alias("cand"),
            )
            .groupBy("id")
            .agg(F.min("cand").alias("cand"))
        )
        improved = (
            msgs.join(solution, on="id")
            .filter(F.col("cand") < F.col("value"))
            .select("id", F.col("cand").alias("value"))
        )
        return improved, improved

    return delta_iterate(
        vertices, vertices, step, keys=["id"], max_iterations=max_iterations
    )


def connected_components(
    edges: DataFrame, max_iterations: int = DEFAULT_GRAPH_MAX_ITER
) -> DataFrame:
    """G2: min-label propagation CC (reference example
    graph/ConnectedComponents.java — delta-iteration flagship).

    edges: (src, dst) directed pairs; treated as undirected. Returns
    (id, component) where component = min vertex id reachable.
    """
    undirected = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    sym = undirected.filter(F.col("src") != F.col("dst")).distinct()
    vertices = (
        sym.select(F.col("src").alias("id"))
        .union(sym.select(F.col("dst").alias("id")))
        .distinct()
        .select("id", F.col("id").cast("long").alias("value"))
    )
    withdelta = sym.withColumn("delta", F.lit(0).cast("long"))
    out = pregel_min_propagation(vertices, withdelta, max_iterations)
    return out.select("id", F.col("value").alias("component"))


def shortest_paths(
    edges: DataFrame,
    source_id: int,
    max_iterations: int = DEFAULT_GRAPH_MAX_ITER,
) -> DataFrame:
    """G1 workload: single-source shortest hop-count (Spargel SSSP).

    edges: (src, dst) directed. Returns (id, dist) for reachable vertices.
    """
    vertices = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
        .select(
            "id",
            F.when(F.col("id") == source_id, F.lit(0))
            .otherwise(F.lit(None))
            .cast("long")
            .alias("value"),
        )
    )
    # Unreached = +inf; model as null-filtered workset seed instead.
    seed = vertices.filter(F.col("value").isNotNull())
    known = vertices.withColumn(
        "value", F.coalesce(F.col("value"), F.lit(2**62))
    )
    withdelta = edges.select("src", "dst").withColumn("delta", F.lit(1).cast("long"))

    def step(solution: DataFrame, workset: DataFrame, _i: int):
        msgs = (
            workset.alias("w")
            .join(withdelta.alias("e"), F.col("w.id") == F.col("e.src"))
            .select(
                F.col("e.dst").alias("id"),
                (F.col("w.value") + F.col("e.delta")).alias("cand"),
            )
            .groupBy("id")
            .agg(F.min("cand").alias("cand"))
        )
        improved = (
            msgs.join(solution, on="id")
            .filter(F.col("cand") < F.col("value"))
            .select("id", F.col("cand").alias("value"))
        )
        return improved, improved

    out = delta_iterate(known, seed, step, keys=["id"], max_iterations=max_iterations)
    return out.filter(F.col("value") < 2**62).select("id", F.col("value").alias("dist"))


def page_rank(
    edges: DataFrame,
    num_iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """G3: PageRank power iteration with dangling-vertex handling
    (reference example graph/PageRankBasic + DanglingPageRank test job).

    edges: (src, dst) directed. Returns (id, rank); ranks sum to 1.
    Dangling mass (vertices with no out-edges) is redistributed uniformly
    each round — the reference's DanglingPageRank semantics.
    """
    vertices = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    n = vertices.count()  # scalar loop constant (driver-side, once)
    out_degree = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    init = vertices.select("id", F.lit(1.0 / n).alias("rank"))

    def step(ranks: DataFrame, _i: int) -> DataFrame:
        contribs = (
            adj.join(ranks, adj["src"] == ranks["id"])
            .select(F.col("dst").alias("id"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("gathered"))
        )
        # Dangling mass folded into the SAME plan as a broadcast 1-row
        # aggregate (no extra driver action per round — at scale each
        # .first() costs a full job launch).
        dangling = F.broadcast(
            ranks.join(out_degree, ranks["id"] == out_degree["src"], "left_anti").agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dangling")
            )
        )
        return (
            vertices.join(contribs, on="id", how="left")
            .crossJoin(dangling)
            .select(
                "id",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping) * F.col("__dangling") / F.lit(float(n))
                    + F.lit(damping) * F.coalesce(F.col("gathered"), F.lit(0.0))
                ).alias("rank"),
            )
        )

    # Loop-invariant: cache the adjacency with degree (the reference pins
    # loop-invariant inputs at the iteration head — same idea).
    with staged() as st:
        adj = st.keep(
            edges.join(out_degree, on="src").select("src", "dst", "deg").persist()
        )
        adj.count()
        # interval=1: each round reads `ranks` twice (contribs + dangling).
        return bulk_iterate(
            init, step, max_iterations=num_iterations, checkpoint_interval=1
        )


def kmeans(
    points: DataFrame,
    initial_centers: DataFrame,
    num_iterations: int = 10,
) -> DataFrame:
    """G4: Lloyd iterations with broadcast centers (reference example
    clustering/KMeans.java: cross points×centers → nearest → recompute).

    points: (id, x, y); initial_centers: (cid, x, y).
    Returns final (cid, x, y, n_points). The centers side is always tiny →
    broadcast join, never a shuffle of the points (the reference used
    withBroadcastSet for exactly this).
    """

    def assign(centers: DataFrame) -> DataFrame:
        dist2 = (
            (F.col("p.x") - F.col("c.x")) ** 2 + (F.col("p.y") - F.col("c.y")) ** 2
        )
        scored = (
            points.alias("p")
            .join(F.broadcast(centers.alias("c")))
            .select(
                F.col("p.id").alias("id"),
                F.col("p.x").alias("x"),
                F.col("p.y").alias("y"),
                F.col("c.cid").alias("cid"),
                dist2.alias("d2"),
            )
        )
        # nearest center via min_by over (d2, cid) — a combinable
        # aggregation (map-side partials), unlike a row_number window
        # which sorts every (point × center) row inside one partition
        return scored.groupBy("id", "x", "y").agg(
            F.min_by("cid", F.struct("d2", "cid")).alias("cid")
        )

    def step(centers: DataFrame, _i: int) -> DataFrame:
        assigned = assign(centers)
        return assigned.groupBy("cid").agg(
            F.avg("x").alias("x"), F.avg("y").alias("y")
        )

    final_centers = bulk_iterate(initial_centers, step, max_iterations=num_iterations)
    counts = (
        assign(final_centers)
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )
    return final_centers.join(counts, on="cid", how="left").select(
        "cid", "x", "y", F.coalesce("n_points", F.lit(0)).alias("n_points")
    )


def enum_triangles(edges: DataFrame) -> DataFrame:
    """G5: EnumTriangles (reference example graph/EnumTriangles*) — closed
    triads in an undirected graph.

    Canonicalizes to a<b edges, then joins edges-on-lower-vertex and
    closes with an edge-existence semi join: (a<b<c, ab ∧ bc ∧ ac).
    Pure relational — no iteration; Catalyst picks the join order.
    """
    canon = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    ab = canon.select(F.col("a"), F.col("b"))
    bc = canon.select(F.col("a").alias("b"), F.col("b").alias("c"))
    ac = canon.select(F.col("a").alias("a2"), F.col("b").alias("c2"))
    return (
        ab.join(bc, on="b")
        .join(
            ac,
            (F.col("a") == F.col("a2")) & (F.col("c") == F.col("c2")),
            "left_semi",
        )
        .select("a", "b", "c")
    )


def transitive_closure(
    edges: DataFrame, max_iterations: int = DEFAULT_GRAPH_MAX_ITER
) -> DataFrame:
    """G5: TransitiveClosure (reference example misc/TransitiveClosureNaive)
    — all reachable (src, dst) pairs, fixpoint of path extension."""
    base = edges.select("src", "dst").distinct()

    def step(paths: DataFrame, _i: int) -> DataFrame:
        extended = (
            paths.alias("p")
            .join(base.alias("e"), F.col("p.dst") == F.col("e.src"))
            .select(F.col("p.src").alias("src"), F.col("e.dst").alias("dst"))
        )
        return paths.union(extended).distinct()

    def converged(prev: DataFrame, cur: DataFrame, _i: int) -> bool:
        return cur.count() == prev.count()

    return bulk_iterate(base, step, max_iterations=max_iterations, converged=converged)


def k_core(
    edges: DataFrame, k: int = 2, rounds: int = 8
) -> DataFrame:
    """k-core decomposition by iterative peeling (graph-library depth
    beyond components/ranking): repeatedly remove vertices with degree
    < k from the canonical undirected edge set until stable — the
    surviving vertices form the k-core, the standard "dense enough to
    matter" subgraph filter before community/embedding work.

    Each peel round is one combinable degree aggregation + one
    broadcast-pruned semi-join pair over the shrinking edge list
    (bulk_iterate materializes rounds and cuts lineage). ``rounds`` is
    fixed — not convergence-driven — so the DuckDB oracle can unroll
    the same number of CTE rounds verbatim; peeling is monotone, so
    extra rounds past the fixpoint are no-ops and the fixed unrolling
    is exact whenever the graph stabilizes within ``rounds`` (asserted
    by the paired test on the fixture).

    Returns the surviving (src, dst) canonical edges (src < dst).
    """
    from incubator_flink_old_spark.operators.iterations import bulk_iterate

    canon = (
        edges.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )

    def peel(e: DataFrame, _i: int) -> DataFrame:
        deg = (
            e.select(F.explode(F.array("src", "dst")).alias("id"))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("id")
        return (
            e.join(
                F.broadcast(keep.withColumnRenamed("id", "src")), on="src",
                how="left_semi",
            )
            .join(
                F.broadcast(keep.withColumnRenamed("id", "dst")), on="dst",
                how="left_semi",
            )
            .select("src", "dst")
        )

    return bulk_iterate(canon, peel, max_iterations=rounds)


def label_propagation(
    edges: DataFrame, rounds: int = 4
) -> DataFrame:
    """Community detection by synchronous label propagation, made
    deterministic: every node starts as its own label; each round it
    adopts the most frequent label among its neighbors, ties broken by
    SMALLEST label; isolated nodes keep their own. FIXED ``rounds`` —
    LPA famously oscillates, so the operator contract is "the state
    after exactly N synchronous rounds" (replayable by an unrolled SQL
    oracle), not a fixpoint.

    Each round is one neighbor-label join + one combinable (node, label)
    count + one per-node arg-max window over the count frame — shuffle
    keys are the node id throughout, so a by-node layout reuses one
    partitioning; bulk_iterate materializes rounds and cuts lineage.
    Returns (id, label).
    """
    from pyspark.sql import Window

    from incubator_flink_old_spark.operators.iterations import bulk_iterate

    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("src").alias("a"), F.col("dst").alias("b")),
                    F.struct(F.col("dst").alias("a"), F.col("src").alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    init = sym.select(F.col("a").alias("id")).distinct().select(
        "id", F.col("id").alias("label")
    )

    def step(state: DataFrame, _i: int) -> DataFrame:
        nbr = sym.join(
            state.select(F.col("id").alias("b"), "label"), on="b"
        ).select(F.col("a").alias("id"), "label")
        cnt = nbr.groupBy("id", "label").agg(F.count(F.lit(1)).alias("c"))
        w = Window.partitionBy("id").orderBy(F.col("c").desc(), F.col("label"))
        return (
            cnt.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("id", "label")
        )

    return bulk_iterate(init, step, max_iterations=rounds)


def _reach_from(frontier: DataFrame, edges: DataFrame) -> DataFrame:
    """Multi-source reachability: fixpoint of labelled frontier expansion.

    ``frontier``: (id, pivot) seed pairs; ``edges``: (src, dst). Returns
    every (id, pivot) with a directed path pivot →* id. Delta-iterated:
    each round expands only the NEW pairs (frontier join), so per-round
    work is proportional to the growing wavefront, not the closure —
    the shape that scales (state ≤ |V| pairs per pivot generation,
    never the all-pairs closure).

    Runs TO DRAIN, not to an iteration budget: the reached set grows
    strictly each round and is bounded by |V|·|pivots|, so termination
    is guaranteed in ≤ diameter rounds — while a round CAP would
    silently truncate reachability on large-diameter graphs (a 40-cycle
    under a 30-round cap loses 17 vertices) and corrupt the SCC it
    feeds. Correctness must not depend on a tuning knob."""
    from incubator_flink_old_spark.operators.iterations import _materialize

    reached = cur = _materialize(frontier)
    while True:
        nxt = (
            cur.join(edges, cur.id == edges.src)
            .select(F.col("dst").alias("id"), "pivot")
            .distinct()
            .join(reached, on=["id", "pivot"], how="left_anti")
        )
        nxt = _materialize(nxt)
        if cur is not reached:
            release(cur)  # the wavefront nxt expanded
        if nxt.count() == 0:
            release(nxt)
            return reached
        grown = _materialize(reached.union(nxt))
        release(reached)
        reached, cur = grown, nxt


def scc_forward_backward(
    edges: DataFrame,
    max_pivot_rounds: int = 30,
    max_iterations: int = DEFAULT_GRAPH_MAX_ITER,
) -> DataFrame:
    """STRONGLY connected components by TRIM + multi-pivot
    FORWARD-BACKWARD decomposition — the form that scales to graphs
    whose transitive closure is untouchable (the closure-based
    construction behind q_scc is exact but O(reachable pairs); this one
    never materializes a closure).

    Per round:
    1. TRIM to fixpoint: any active vertex missing an in-edge or an
       out-edge in the active subgraph is a singleton SCC — removed
       immediately (a DAG fully decomposes by trimming alone).
    2. One PIVOT per weakly connected component of what remains (min
       id); forward and backward reachability from all pivots run as
       two multi-source delta iterations; F ∩ B (+ the pivot) is the
       pivot's SCC — assigned and removed. Pivots live in disjoint weak
       components, so the per-round work parallelizes across them.

    Rounds are bounded by the longest chain of SCCs in any weak
    component; a residual past ``max_pivot_rounds`` falls back to the
    exact closure construction on the (by then small) remainder — the
    same guarantee-of-exactness-with-bounded-rounds pattern as
    dedup_clusters' union-find finish.

    Output: (id, scc_id) with scc_id = min member id (the q_scc
    convention — labels are relabelled at the end, since a pivot is the
    min of its weak component, not necessarily of its SCC)."""
    from incubator_flink_old_spark.operators.iterations import _materialize
    from incubator_flink_old_spark.sources import local_rows

    e0 = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    e0 = _materialize(e0)
    verts = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    spark = edges.sparkSession
    assigned = empty = local_rows(spark, [], "id long, lbl long")
    active = _materialize(verts.select(F.col("id").cast("long").alias("id")))
    ae = e0

    def swap(old: DataFrame, new: DataFrame) -> DataFrame:
        """``new`` materialized, then ``old``, which it replaces, released."""
        new = _materialize(new)
        if old is not empty:
            release(old)
        return new

    for _ in range(max_pivot_rounds):
        if active.count() == 0:
            break
        ae = swap(
            ae,
            ae.join(active.select(F.col("id").alias("src")), on="src", how="left_semi")
            .join(active.select(F.col("id").alias("dst")), on="dst", how="left_semi")
            .select("src", "dst")
        )
        # trim to fixpoint
        while True:
            has_out = ae.select(F.col("src").alias("id")).distinct()
            has_in = ae.select(F.col("dst").alias("id")).distinct()
            nontrivial = _materialize(
                active.join(has_out, on="id", how="left_semi").join(
                    has_in, on="id", how="left_semi"
                )
            )
            n_trim = active.count() - nontrivial.count()
            if n_trim == 0:
                release(nontrivial)
                break
            trimmed = active.join(nontrivial, on="id", how="left_anti")
            assigned = swap(
                assigned,
                assigned.union(trimmed.select("id", F.col("id").alias("lbl"))),
            )
            release(active)
            active = nontrivial
            ae = swap(
                ae,
                ae.join(
                    active.select(F.col("id").alias("src")), on="src", how="left_semi"
                )
                .join(active.select(F.col("id").alias("dst")), on="dst", how="left_semi")
                .select("src", "dst")
            )
        if active.count() == 0:
            break
        # One pivot per weak component of the remaining subgraph. An
        # under-converged CC (its min-label propagation is bounded by
        # max_iterations) can only SPLIT a weak component — yielding
        # extra pivots, never a missed vertex; extra same-SCC pivots
        # produce identical member sets, deduplicated by the min-pivot
        # group-by below (different-SCC pivots have disjoint F∩B by
        # definition, so the dedup never merges distinct SCCs).
        cc = connected_components(ae, max_iterations=max_iterations)
        pivots = cc.groupBy("component").agg(F.min("id").alias("pivot"))
        frontier = pivots.select(F.col("pivot").alias("id"), "pivot")
        fwd = _reach_from(frontier, ae)
        bwd = _reach_from(
            frontier,
            ae.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        )
        members = _materialize(
            fwd.join(bwd, on=["id", "pivot"])
            .groupBy("id")
            .agg(F.min("pivot").alias("pivot"))
        )
        release(fwd)
        release(bwd)
        assigned = swap(
            assigned,
            assigned.union(members.select("id", F.col("pivot").alias("lbl"))),
        )
        active = swap(
            active, active.join(members.select("id"), on="id", how="left_anti")
        )
        release(members)

    if active.count() > 0:  # bounded-rounds fallback: exact closure form
        ae = (
            ae.join(active.select(F.col("id").alias("src")), on="src", how="left_semi")
            .join(active.select(F.col("id").alias("dst")), on="dst", how="left_semi")
            .select("src", "dst")
        )
        # The fallback must be EXACT: transitive_closure extends paths by
        # one edge per round and stops on count convergence, so give it
        # a diameter-proof budget rather than the tuning knob (the knob
        # bounding pivot rounds is a cost control; truncating the
        # closure would silently split large-diameter SCCs).
        tc = transitive_closure(ae, max_iterations=100_000)
        rev = tc.select(F.col("dst").alias("r_src"), F.col("src").alias("r_dst"))
        mutual = tc.join(
            rev, (tc.src == F.col("r_src")) & (tc.dst == F.col("r_dst"))
        ).select(F.col("src").alias("id"), F.col("dst").alias("other"))
        mutual = mutual.union(active.select("id", F.col("id").alias("other")))
        residual = mutual.groupBy("id").agg(F.min("other").alias("lbl"))
        assigned = assigned.union(residual)
    else:  # the result reads only `assigned`
        release(ae)
        release(active)

    # relabel: scc_id = min member id of each group
    relabel = assigned.groupBy("lbl").agg(F.min("id").alias("scc_id"))
    return assigned.join(relabel, on="lbl").select("id", "scc_id")
