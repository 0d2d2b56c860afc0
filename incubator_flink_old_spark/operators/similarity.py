"""Similarity search over embedding columns (north-star W7).

Brute-force cosine top-k as the correctness baseline; sign-bit LSH
bucketing as the scale path (candidates only within matching buckets —
the crossJoin never runs unpruned). Both are pure Column expressions:
dot products via zip_with + aggregate fold over double-cast elements,
deterministic and engine-portable.

Scale notes: brute force is O(Q·N) — fine when the query side is small
and broadcast; for N×N near-dup search use the LSH variant. The ANN
path is ONE integer-grid index stack: ``grid_ivf`` / ``grid_pq`` train,
the collected-rows map folds (``grid_assign_map`` /
``grid_pq_encode_map``) assign and encode, and ``ivf_topk`` /
``pq_topk`` / ``ivf_pq_topk`` compose them into search. At 100TB the
embedding table is bucketed by LSH key (or written by IVF cell) so
candidate joins are shuffle-free.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from incubator_flink_old_spark.session import staged

#: Scalar-element budget for embedding a collected index as ONE parsed
#: SQL literal (VERDICT r12 item 1). Below it the literal fold is the
#: cheapest possible plan (constant-folded, zero joins — the fixture
#: index is 8 cells × 64 dims ≈ 520 elements); past it the literal
#: string's parse time and its re-serialization into EVERY task binary
#: that carries the plan grow without bound (a realistic 100 TB IVF —
#: thousands of cells × hundreds of dims — renders tens of MB), while a
#: one-row broadcast frame ships the same values once as DATA. 32768
#: elements ≈ a 300 KB literal ≈ a quarter-second parse — the crossover
#: region; env-overridable for deployments that know better.
_FOLD_LITERAL_MAX_ELEMS = int(
    os.environ.get("SPARK_GRAFT_FOLD_LITERAL_MAX", "32768")
)

#: DDL shapes of the broadcast arm's index columns — field names match
#: the literal arm's named_structs exactly, so every fold expression is
#: identical through both arms.
_CENTERS_DDL = "array<struct<cell:int,cv:array<bigint>>>"
_BOOKS_DDL = "array<array<struct<cid:int,bv:array<bigint>>>>"


def as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def grid_quantize(vec: Column | str, grid: float = 1_000_000.0) -> Column:
    """Floor-quantize a vector onto the integer grid: ``floor(x · grid)``
    as longs — floor, never round (round on a full-mantissa double
    disagrees across engines at half-way points). The one quantization
    every integer-grid operator and its SQL oracle share."""
    return F.transform(
        as_double_array(vec), lambda x: F.floor(x * F.lit(grid)).cast("long")
    )


def _fresh_name(df: DataFrame, base: str) -> str:
    """``base`` prefixed with underscores until absent from
    ``df.columns`` — the broadcast arm's crossJoined helper column must
    never collide with a caller column (the literal arm adds none)."""
    while base in df.columns:
        base = "_" + base
    return base


def _one_row_broadcast(spark, cols) -> DataFrame:
    """One-row frame carrying index arrays as DATA (createDataFrame),
    not as parsed plan literals — the above-budget arm of the
    literal-fold size gate. The ``crossJoin(broadcast(one_row))`` a
    caller wraps around it adds no exchange to the probe side, is
    stream-static-legal, and keeps plan size O(1) however large the
    index. ``cols`` = [(name, ddl, payload), ...]."""
    schema = ", ".join(f"{n} {d}" for n, d, _ in cols)
    return spark.createDataFrame([tuple(p for _, _, p in cols)], schema)


def _centers_payload(rows) -> list:
    """Collected (cell, cv) rows → python payload sorted by cell id (the
    fold's strict-improvement walk order — same order the literal arm
    renders)."""
    return [
        (int(r["cell"]), [int(v) for v in r["cv"]])
        for r in sorted(rows, key=lambda r: r["cell"])
    ]


def _attach_centers(df: DataFrame, rows) -> tuple[DataFrame, Column]:
    """Return ``(frame, centers_col)`` for a fold over collected center
    rows: the F.expr literal below the element budget (the fixture/bench
    arm — plan-pinned literal, no join), the one-row broadcast crossJoin
    above it. Same values, same array<struct<cell,cv>> shape, so the
    fold arithmetic is identical through both arms (law-pinned
    both-arms-bit-equal in tests/test_wave48.py)."""
    if sum(1 + len(r["cv"]) for r in rows) <= _FOLD_LITERAL_MAX_ELEMS:
        return df, _centers_sql_array(rows)
    name = _fresh_name(df, "__centers")
    one = _one_row_broadcast(
        df.sparkSession, [(name, _CENTERS_DDL, _centers_payload(rows))]
    )
    return df.crossJoin(F.broadcast(one)), F.col(name)


def _centers_frame(spark, rows) -> DataFrame:
    """(cell, cv) DataFrame from collected center rows — the literal
    explode below the budget, plain createDataFrame (data, not plan)
    above it; identical schema either way."""
    if sum(1 + len(r["cv"]) for r in rows) <= _FOLD_LITERAL_MAX_ELEMS:
        return (
            spark.range(0, 1, 1, 1)
            .select(F.explode(_centers_sql_array(rows)).alias("s"))
            .select(F.col("s.cell").alias("cell"), F.col("s.cv").alias("cv"))
        )
    return spark.createDataFrame(
        _centers_payload(rows), "cell int, cv array<bigint>"
    )


def _books_payload(by_j: dict, m: int) -> list:
    """Per-subspace codebook rows → nested python payload (outer index =
    j, inner sorted by cid — the argmin fold's walk order)."""
    return [
        [
            (int(r["cid"]), [int(v) for v in r["bv"]])
            for r in sorted(by_j.get(j, []), key=lambda r: r["cid"])
        ]
        for j in range(m)
    ]


def _attach_books(df: DataFrame, by_j: dict, m: int) -> tuple[DataFrame, Column]:
    """The :func:`_attach_centers` gate for PQ codebooks: literal
    array-of-arrays below the budget, one-row broadcast above it."""
    n = sum(1 + len(r["bv"]) for rows in by_j.values() for r in rows)
    if n <= _FOLD_LITERAL_MAX_ELEMS:
        return df, _books_sql_array(by_j, m)
    name = _fresh_name(df, "__books")
    one = _one_row_broadcast(
        df.sparkSession, [(name, _BOOKS_DDL, _books_payload(by_j, m))]
    )
    return df.crossJoin(F.broadcast(one)), F.col(name)


def _books_frame(spark, by_j: dict, m: int) -> DataFrame:
    """(j, cid, bv) DataFrame from collected codebook rows — the
    posexplode'd literal below the budget, plain createDataFrame above
    it; identical schema either way."""
    n = sum(1 + len(r["bv"]) for rows in by_j.values() for r in rows)
    if n <= _FOLD_LITERAL_MAX_ELEMS:
        return (
            spark.range(0, 1, 1, 1)
            .select(
                F.posexplode(_books_sql_array(by_j, m)).alias("__j", "__bl")
            )
            .select(
                F.col("__j").cast("int").alias("j"), F.explode("__bl").alias("s")
            )
            .select("j", F.col("s.cid").alias("cid"), F.col("s.bv").alias("bv"))
        )
    return spark.createDataFrame(
        [
            (j, int(r["cid"]), [int(v) for v in r["bv"]])
            for j in range(m)
            for r in sorted(by_j.get(j, []), key=lambda r: r["cid"])
        ],
        "j int, cid int, bv array<bigint>",
    )


def _sql_bigint_array(vals) -> str:
    """Render an integer vector as ONE SQL array literal. Building the
    same tree with per-element ``F.lit(...)`` costs a py4j round trip
    PER ELEMENT — measured 2.36 s for 8 centers × 64 dims vs 4 ms for
    the single-``F.expr`` parse, identical values and schema
    (optimization round 12, guide §1: the 'planning cost' attributed to
    literal center arrays was driver-side EXPRESSION CONSTRUCTION)."""
    return "array(" + ",".join(f"{int(v)}L" for v in vals) + ")"


def _centers_sql_array(rows) -> Column:
    """Collected (cell, cv) center rows → one array<struct<cell int,
    cv array<bigint>>> literal column via a single F.expr parse, sorted
    by cell id (the fold's strict-improvement walk order). Accepts Row
    objects or dicts."""
    ents = ",".join(
        "named_struct('cell',CAST(%d AS INT),'cv',%s)"
        % (int(r["cell"]), _sql_bigint_array(r["cv"]))
        for r in sorted(rows, key=lambda r: r["cell"])
    )
    return F.expr(f"array({ents})")


def _books_sql_array(by_j: dict, m: int) -> Column:
    """Per-subspace codebooks → one array<array<struct<cid int,
    bv array<bigint>>>> literal column (outer index = j) via a single
    F.expr parse; inner arrays sorted by cid (the argmin fold's walk
    order). Accepts Row objects or dicts."""
    outer = ",".join(
        "array(%s)"
        % ",".join(
            "named_struct('cid',CAST(%d AS INT),'bv',%s)"
            % (int(r["cid"]), _sql_bigint_array(r["bv"]))
            for r in sorted(by_j.get(j, []), key=lambda r: r["cid"])
        )
        for j in range(m)
    )
    return F.expr(f"array({outer})")


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right fold — deterministic per element order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def dot_long(a: Column, b: Column) -> Column:
    """Integer dot product over two array<long> columns — EXACT int64
    arithmetic, so the result is bit-identical on any engine and any
    fold order (unlike :func:`dot`, whose double sum is order-sensitive
    once terms exceed 2^53). Used where cross-engine rank parity must
    survive adversarial magnitudes (the hybrid ADC key)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_safe(a: Column, b: Column) -> Column:
    """Cosine with a deterministic sentinel (-2.0, strictly below any
    true cosine) when EITHER vector has zero norm. Needed on the
    integer-grid paths: a vector whose components all floor-quantize to
    0 makes plain cosine 0/0 = NaN, and NaN ordering under ROW_NUMBER
    differs between Spark (NaN sorts high) and DuckDB (NULL semantics) —
    breaking the bit-identical cross-engine replay grid_ivf promises.
    The sentinel ranks zero-norm candidates last with the cell-id
    tie-break deciding, identically on both engines (mirror:
    llm_ops11._sql_cos's transform=True CASE guard)."""
    na2 = F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    nb2 = F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x)
    return F.when(
        (na2 == F.lit(0.0)) | (nb2 == F.lit(0.0)), F.lit(-2.0)
    ).otherwise(dot(a, b) / (F.sqrt(na2) * F.sqrt(nb2)))


def _topk(
    scored: DataFrame, k: int, query_key: str, key: str, score: str
) -> DataFrame:
    """The ``k`` best rows per query by (score desc, key asc) — the one
    deterministic ranking every top-k surface here shares."""
    from pyspark.sql import Window

    w = Window.partitionBy(query_key).orderBy(F.col(score).desc(), F.col(key))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_key: str = "q_id",
    corpus_key: str = "vec_id",
    vec: str = "embedding",
    exclude_self: bool = False,
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query side against the
    corpus, rank per query with deterministic tie-break on corpus key.

    ``exclude_self`` drops corpus rows whose key equals the query key
    BEFORE ranking — the kNN formulation. (Ranking first and dropping
    self after is NOT equivalent: self's cosine is a computed float and
    exact-duplicate vectors tie it, so self may sit below rank k and
    the post-filter would then return one result too many.)

    Output: (q_id, vec_id, cos) — k rows per query.
    """
    q = queries.select(
        F.col(query_key).alias("__q"), as_double_array(vec).alias("__qv")
    )
    c = corpus.select(
        F.col(corpus_key).alias("__c"), as_double_array(vec).alias("__cv")
    )
    scored = F.broadcast(q).crossJoin(c).select(
        F.col("__q").alias(query_key),
        F.col("__c").alias(corpus_key),
        cosine(F.col("__qv"), F.col("__cv")).alias("cos"),
    )
    if exclude_self:
        scored = scored.filter(F.col(query_key) != F.col(corpus_key))
    return _topk(scored, k, query_key, corpus_key, "cos")


def _cell_sims(k: Column, centers_arr: Column) -> Column:
    """array<struct<c, s>>: the exact integer-grid cosine (zero-norm
    sentinel, :func:`cosine_safe`) of grid vector ``k`` against every
    (cell, cv) center of ``centers_arr``, in the array's cell order."""
    return F.transform(
        centers_arr,
        lambda ctr: F.struct(
            ctr.getField("cell").alias("c"),
            cosine_safe(
                as_double_array(k), as_double_array(ctr.getField("cv"))
            ).alias("s"),
        ),
    )


def _nearest_cell(k: Column, centers_arr: Column) -> Column:
    """The nearest-cell fold: walk :func:`_cell_sims` in ascending cell
    id keeping only STRICT improvements, so equal similarities keep the
    smaller cell — the (sim desc, cell asc) ROW_NUMBER pick as one
    expression (no join, no window, no shuffle). Returns the cell id."""
    return F.aggregate(
        _cell_sims(k, centers_arr),
        F.struct(F.lit(-1).alias("c"), F.lit(-3.0).alias("s")),
        lambda acc, x: F.when(x.getField("s") > acc.getField("s"), x).otherwise(
            acc
        ),
    ).getField("c")


def grid_assign_map(
    df: DataFrame,
    centers_rows,
    grid: float = 1_000_000.0,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Assign vectors to FROZEN IVF centers as a PURE MAP — the
    index-maintenance primitive: appending a delta batch to a by-cell
    layout is this map-only pass, NOT a re-train. The centers arrive as
    collected rows (bounded — n_cells of them) and are embedded as a
    literal (cell, cv) array (a one-row broadcast above the element
    budget), so each row's cell is :func:`_nearest_cell` with NO join,
    NO window, NO shuffle. This is also the form that runs under
    Structured Streaming (window functions and arbitrary joins are
    off-limits there) — a live stream of new vectors lands in its
    by-cell partitions through exactly this map.

    Same quantization and fold as :func:`grid_ivf`'s training
    assignment, so incremental ≡ batch assignment by construction; its
    law reference is the broadcast-join + window form in
    tests/ann_join_reference.py (pinned bit-equal in
    tests/test_wave41.py). Returns (key, cell)."""
    if not centers_rows:
        # Centers are n_cells rows by design; an empty list is a caller
        # bug. Without this check the fold never improves on the init
        # accumulator and every row silently lands in cell=-1 — fail
        # loudly instead (ADVICE r07).
        raise ValueError("grid_assign_map: centers_rows is empty")
    df, arr = _attach_centers(df, centers_rows)
    return df.select(
        F.col(key), _nearest_cell(grid_quantize(vec, grid), arr).alias("cell")
    )


def grid_ivf(
    corpus: DataFrame,
    n_cells: int = 8,
    iters: int = 2,
    grid: float = 1_000_000.0,
    key: str = "vec_id",
    vec: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Integer-grid IVF coarse quantizer — the engine's one IVF trainer
    (:func:`ivf_topk`, the recall/maintenance rows and the semantic
    screens all train through it), built so the full Lloyd iteration
    can be value-checked by an unrolled SQL oracle (the
    ``q_embed_cov_profile`` integer-grid exactness recipe, extended from
    one aggregation to a whole iterative algorithm):

    - vectors are floor-quantized to a micro-unit integer grid
      (:func:`grid_quantize`);
    - centroids are integer TRUNCATED means (``sum div count`` on longs
      — both Spark's ``div`` and DuckDB's ``//`` truncate toward zero),
      never float averages, so no fold-order or rounding divergence can
      accumulate across iterations;
    - assignment ranks by cosine over the integer vectors cast to
      double: every dot/norm sum is a sum of integer-valued doubles
      < 2^53, hence EXACT under any fold order, and sqrt/division are
      correctly-rounded IEEE ops — cosines are bit-identical across
      engines, ties broken by cell id.

    Returns ``(cells, centers)``: cells = (key, cell) after the final
    assignment, centers = (cell, cv array<long>) the assignment used.

    Scale shape (optimization round 12 — guide §2.4 remove shuffles
    outright): every assignment, including the per-iteration training
    ones, is :func:`grid_assign_map`'s nearest-cell fold over the
    current centers collected to the driver (bounded — n_cells rows per
    iteration) and re-embedded as ONE F.expr-parsed literal array — the
    corpus NEVER shuffles and no window ranks it. Literal construction
    must be the single F.expr parse: a per-element F.lit tree costs a
    py4j round trip PER LITERAL (~2.4 s at 8 cells × 64 dims vs 4 ms,
    measured). The only per-iteration exchange left is the centroid
    recompute's d·n_cells map-side-combined partial sums; the collect
    itself cuts the lineage.
    """
    from incubator_flink_old_spark.operators.text import _spread_narrow

    spark = corpus.sparkSession
    # Spread a narrow scan to cluster width (no-op at scale where scans
    # have thousands of splits): every training pass below is a pure
    # map over e, so without this the whole Lloyd loop serializes in
    # one task while the cluster idles.
    e = _spread_narrow(corpus).select(
        F.col(key).alias("__c"), grid_quantize(vec, grid).alias("__k")
    )

    # Lowest-key seeds (bounded collect: n_cells rows) — cell ids 1..n
    # in __c order.
    seeds = e.orderBy("__c").limit(n_cells).collect()
    if not seeds:
        # Empty corpus: empty frames, not the fold's cell=-1 sentinel.
        empty_cells = e.select(
            F.col("__c").alias(key), F.lit(1).cast("int").alias("cell")
        ).filter(F.lit(False))
        empty_centers = spark.range(0, 0, 1, 1).select(
            F.lit(1).cast("int").alias("cell"),
            F.array(F.lit(0).cast("long")).alias("cv"),
        )
        return empty_cells, empty_centers
    centers_rows = [
        {"cell": i + 1, "cv": [int(v) for v in r["__k"]]}
        for i, r in enumerate(seeds)
    ]

    def assign_map(rows) -> DataFrame:
        # grid_assign_map's fold on the pre-quantized frame, keeping __k
        # for the centroid recompute; past the element budget the
        # centers ride a one-row broadcast frame (_attach_centers —
        # VERDICT r12 item 1).
        src, arr = _attach_centers(e, rows)
        return src.select(
            "__c",
            "__k",
            _nearest_cell(F.col("__k"), arr).cast("int").alias("cell"),
        )

    for _ in range(iters):
        assigned = assign_map(centers_rows)
        centers_rows = [
            {"cell": int(r["cell"]), "cv": [int(v) for v in r["cv"]]}
            for r in (
                assigned.select("cell", F.posexplode("__k").alias("pos", "v"))
                .groupBy("cell", "pos")
                .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("cnt"))
                .select("cell", "pos", F.expr("s div cnt").alias("v"))
                .groupBy("cell")
                .agg(
                    F.array_sort(F.collect_list(F.struct("pos", "v"))).alias(
                        "pv"
                    )
                )
                .select(
                    "cell", F.transform("pv", lambda st: st["v"]).alias("cv")
                )
                .collect()  # bounded: n_cells rows per iteration
            )
        ]
    cells = assign_map(centers_rows).select(F.col("__c").alias(key), "cell")
    centers = _centers_frame(spark, centers_rows)
    return cells, centers


def grid_probes(
    queries: DataFrame,
    centers: DataFrame,
    n_probe: int = 3,
    grid: float = 1_000_000.0,
    key: str = "q_id",
    vec: str = "embedding",
) -> DataFrame:
    """Top-``n_probe`` cells per query vector by integer-grid cosine —
    the IVF probe every search surface shares (:func:`ivf_topk`,
    :func:`ivf_pq_topk`, the recall rows and their layouts). Ranked
    (sim desc, cell asc), the same order as the training assignment, so
    a corpus vector used as a query always probes its own cell first.
    Both sides are broadcast-sized (queries × n_cells). Returns
    (key, cell); ``n_probe = n_cells`` admits every cell (the
    all-cells ≡ unpruned law)."""
    from pyspark.sql import Window

    qg = queries.select(key, grid_quantize(vec, grid).alias("qk"))
    return (
        F.broadcast(qg)
        .crossJoin(F.broadcast(centers))
        .select(
            key,
            "cell",
            cosine_safe(as_double_array("qk"), as_double_array("cv")).alias("__sim"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(key).orderBy(F.col("__sim").desc(), "cell")
            ),
        )
        .filter(F.col("rn") <= n_probe)
        .select(key, "cell")
    )


def grid_sqdist(a: Column, b: Column) -> Column:
    """Squared L2 distance between two integer-grid vectors (as double
    arrays) via the dot-product identity ||a−b||² = a·a − 2a·b + b·b.
    Every operand is an exact integer-valued double (grid products stay
    far below 2^53), so the result is the exact integer distance on any
    engine under any fold order."""
    return dot(a, a) - 2 * dot(a, b) + dot(b, b)


def _subspace_rows(
    df: DataFrame, key: str, k: Column, m: int, sub: int
) -> DataFrame:
    """Long-format subvectors of grid vector ``k``: one (key, j, sv) row
    per (vector, subspace), sv = the j-th contiguous ``sub``-dim slice."""
    return df.select(
        F.col(key),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.slice(k, j * sub + 1, sub).alias("sv"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("js"),
    ).select(key, F.col("js.j").alias("j"), F.col("js.sv").alias("sv"))


def _nearest_code(books_arr: Column) -> Column:
    """The nearest-code fold over a (j, sv) subvector row: walk subspace
    j's codebook in ascending cid keeping only STRICT improvements of
    the exact integer squared L2, so equal distances keep the smaller
    cid — the (d asc, cid asc) ROW_NUMBER pick as one expression.
    Returns struct<c: cid, d: distance>."""
    return F.aggregate(
        F.transform(
            F.element_at(books_arr, F.col("j") + 1),
            lambda b: F.struct(
                b.getField("cid").alias("c"),
                grid_sqdist(
                    as_double_array(F.col("sv")),
                    as_double_array(b.getField("bv")),
                ).alias("d"),
            ),
        ),
        F.struct(F.lit(-1).alias("c"), F.lit(float("inf")).alias("d")),
        lambda acc, x: F.when(x.getField("d") < acc.getField("d"), x).otherwise(
            acc
        ),
    )


def _books_by_j(rows) -> dict:
    """Codebook rows (dicts or Rows) grouped by subspace j."""
    by_j: dict[int, list] = {}
    for r in rows:
        by_j.setdefault(int(r["j"]), []).append(r)
    return by_j


def grid_pq(
    corpus: DataFrame,
    m: int = 4,
    n_centroids: int = 8,
    iters: int = 1,
    grid: float = 1_000_000.0,
    key: str = "vec_id",
    vec: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Integer-grid PRODUCT quantizer — the engine's one PQ trainer
    (:func:`pq_topk`, :func:`ivf_pq_topk`, the recall and maintenance
    rows), extending the :func:`grid_ivf` recipe to per-subspace
    k-means: vectors are floor-quantized to the integer grid, split into
    ``m`` subvectors of d/m (d is read from the seed rows), and each
    subspace trains its own codebook (lowest-key seeds, exact-integer
    squared-L2 assignment tie-broken by centroid id, truncated-mean
    centroids). Every arithmetic step is integer-exact on both engines,
    so the FULL trainer + encoder replays value-level in an unrolled SQL
    oracle (q_ann_recall_pq) — including ADC search, whose distance
    tables and lookup sums are again exact integers.

    Returns ``(codes, books)``: codes = (key, j, code) — m rows per
    vector, the 64×-compressed representation; books = (j, cid, bv
    array<long>) — m·n_centroids rows, always broadcast-sized. Raises
    ``ValueError`` when d is not divisible by ``m``.

    Scale shape (optimization round 12 — the grid_ivf trainer
    treatment): every assignment, including the per-iteration training
    ones, is :func:`grid_pq_encode_map`'s nearest-code fold over the
    current books collected to the driver (bounded — m·n_centroids rows
    per iteration) and re-embedded as ONE F.expr-parsed literal array —
    the subvector frame never shuffles and no (__c, j) window ranks it.
    The only per-iteration exchange left is the codebook recompute's
    map-side-combined partial sums; the collect itself cuts the lineage.
    ADC then scans codes (m small ints per vector instead of the d-float
    payload) against broadcast distance tables (:func:`grid_adc_topk`).
    """
    from incubator_flink_old_spark.operators.text import _spread_narrow

    spark = corpus.sparkSession
    # Narrow-scan spread: the grid_ivf rationale (pure-map training
    # passes otherwise serialize in one task at fixture widths).
    e = _spread_narrow(corpus).select(
        F.col(key).alias("__c"), grid_quantize(vec, grid).alias("__k")
    )
    # Lowest-key seeds (bounded collect: n_centroids rows): the first
    # n_centroids keys' slices, cid = the key's rank, in every subspace.
    seeds = e.orderBy("__c").limit(n_centroids).collect()
    if not seeds:
        empty_codes = e.select(
            F.col("__c").alias(key),
            F.lit(0).alias("j"),
            F.lit(1).cast("int").alias("code"),
        ).filter(F.lit(False))
        empty_books = spark.range(0, 0, 1, 1).select(
            F.lit(0).cast("int").alias("j"),
            F.lit(1).cast("int").alias("cid"),
            F.array(F.lit(0).cast("long")).alias("bv"),
        )
        return empty_codes, empty_books
    d = len(seeds[0]["__k"])
    if d % m:
        raise ValueError(f"grid_pq: d={d} dims do not split into m={m} subspaces")
    sub = d // m
    subs = _subspace_rows(e, "__c", F.col("__k"), m, sub)
    books_rows = [
        {
            "j": j,
            "cid": i + 1,
            "bv": [int(v) for v in r["__k"][j * sub : (j + 1) * sub]],
        }
        for j in range(m)
        for i, r in enumerate(seeds)
    ]

    def assign_map(rows) -> DataFrame:
        # grid_pq_encode_map's fold on the pre-sliced long format,
        # keeping sv for the codebook recompute (one-row broadcast past
        # the element budget — _attach_books, VERDICT r12 item 1).
        src, books_arr = _attach_books(subs, _books_by_j(rows), m)
        return src.select(
            "__c",
            "j",
            "sv",
            _nearest_code(books_arr).getField("c").cast("int").alias("code"),
        )

    for _ in range(iters):
        assigned = assign_map(books_rows)
        books_rows = [
            {"j": int(r["j"]), "cid": int(r["cid"]), "bv": [int(v) for v in r["bv"]]}
            for r in (
                assigned.select(
                    "j",
                    F.col("code").alias("cid"),
                    F.posexplode("sv").alias("pos", "v"),
                )
                .groupBy("j", "cid", "pos")
                .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("cnt"))
                .select("j", "cid", "pos", F.expr("s div cnt").alias("v"))
                .groupBy("j", "cid")
                .agg(
                    F.array_sort(F.collect_list(F.struct("pos", "v"))).alias(
                        "pv"
                    )
                )
                .select(
                    "j", "cid", F.transform("pv", lambda st: st["v"]).alias("bv")
                )
                .collect()  # bounded: m·n_centroids rows per iteration
            )
        ]
    codes = assign_map(books_rows).select(F.col("__c").alias(key), "j", "code")
    books = _books_frame(spark, _books_by_j(books_rows), m)
    return codes, books


def grid_pq_encode_map(
    df: DataFrame,
    books_rows,
    m: int = 4,
    grid: float = 1_000_000.0,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Encode vectors against FROZEN product-quantizer codebooks as a
    PURE MAP — the PQ member of the index-maintenance family
    (:func:`grid_assign_map` is the IVF analog, :func:`sq8_encode_map`
    the SQ8 one): delta batches are absorbed at a cost that scales with
    the DELTA, never the corpus, while the codebooks stay the base
    training's. The codebooks arrive as collected rows (bounded —
    m·n_centroids of them; d is read from them) and are embedded as a
    literal array-of-arrays indexed by subspace, so each row's m codes
    are :func:`_nearest_code` folds with NO join, NO window, NO shuffle —
    the only shape Structured Streaming admits for a stateless per-row
    transform.

    Exactly :func:`grid_pq`'s assignment arithmetic (same quantization
    and slicing, same fold), so incremental ≡ batch encoding is
    structural: encoding is per-row pure given frozen books, so any
    split of the input encodes identically. Its law reference is the
    broadcast-join + window form in tests/ann_join_reference.py (pinned
    bit-equal in tests/test_wave42.py).

    Returns (key, j, code, qerr) — m rows per vector; qerr is the EXACT
    integer squared-L2 between the subvector and its chosen centroid,
    the per-row quantization-error audit whose per-(j, code) sums say
    how far a delta's distribution has walked from the frozen codebooks
    (the PQ twin of q_sq8_incremental's clamp counts)."""
    if not books_rows:
        # Books are m·n_centroids rows by design; an empty list is a
        # caller bug — fail loudly instead of emitting code=-1 rows
        # (the grid_assign_map discipline).
        raise ValueError("grid_pq_encode_map: books_rows is empty")
    by_j = _books_by_j(books_rows)
    missing = [j for j in range(m) if not by_j.get(j)]
    if missing:
        # A subspace with no codebook rows would make its literal array
        # empty, the argmin fold would never improve on the init
        # accumulator, and every row would silently emit code=-1 with
        # qerr=inf-cast-to-long — the exact silent divergence the empty-
        # list check above exists to prevent (ADVICE r08). Fail loudly.
        raise ValueError(
            f"grid_pq_encode_map: no codebook rows for subspace(s) "
            f"{missing} (expected all of 0..{m - 1})"
        )
    sub = len(books_rows[0]["bv"])
    d = sub * len(by_j)
    if d % m or d // m != sub:
        raise ValueError(
            f"grid_pq_encode_map: books of d={d} dims in {len(by_j)} "
            f"subspaces do not split into m={m} subspaces"
        )
    rows = _subspace_rows(df, key, grid_quantize(vec, grid), m, sub)
    rows, books_arr = _attach_books(rows, by_j, m)
    best = _nearest_code(books_arr)
    return rows.select(
        F.col(key),
        "j",
        best.getField("c").alias("code"),
        best.getField("d").cast("long").alias("qerr"),
    )


def sq8_encode_map(
    df: DataFrame,
    bounds_rows,
    levels: int = 255,
    grid: float = 1_000_000.0,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Frozen-bounds SQ8 encoding as a PURE MAP — the streaming form of
    ``_sq_codes(bounds=..., clamp=True)``, completing the maintenance
    family's streaming dimension (grid_assign_map is the IVF form,
    grid_pq_encode_map the PQ form): the 64-row quantizer table arrives
    as collected rows and is embedded as literal per-dim arrays, so each
    row's codes come from a stateless posexplode + projection — no
    join, no window, no shuffle, the shape Structured Streaming admits.

    Arithmetic is the batch encoder's exactly: integer
    (v − lo)·levels div (hi − lo), two-side clamped into [0, levels]
    (the clamp is also what reconciles Spark's truncating ``div`` with
    DuckDB's flooring ``//`` for out-of-range values — both land on the
    boundary code). Returns per-dim rows (key, p 1-based, c) — the
    explode is deliberate: per-dim rows are what the clamp-count drift
    audit (q_sq8_incremental) consumes downstream."""
    if not bounds_rows:
        raise ValueError("sq8_encode_map: bounds_rows is empty")
    ordered = sorted(bounds_rows, key=lambda r: r.p)
    if [int(r.p) for r in ordered] != list(range(1, len(ordered) + 1)):
        # A gapped/duplicated bounds table would make element_at return
        # NULL lo/hi for the missing dims and the encoder would emit
        # silent NULL codes (ADVICE r08). The quantizer table is dense
        # 1..dim by construction (_sq_bounds groups over posexplode) —
        # anything else is a caller bug; fail loudly.
        raise ValueError(
            "sq8_encode_map: bounds_rows p values must be exactly "
            f"1..{len(ordered)} (got {sorted(int(r.p) for r in bounds_rows)})"
        )
    if 2 * len(ordered) <= _FOLD_LITERAL_MAX_ELEMS:
        src, extra = df, ()
        lo_arr = F.expr(_sql_bigint_array(int(r.lo) for r in ordered))
        hi_arr = F.expr(_sql_bigint_array(int(r.hi) for r in ordered))
    else:
        # Above the literal budget the quantizer table rides a one-row
        # broadcast frame (VERDICT r12 item 1) — same values, same
        # element_at lookups.
        lo, hi = _fresh_name(df, "__lo"), _fresh_name(df, "__hi")
        one = _one_row_broadcast(
            df.sparkSession,
            [
                (lo, "array<bigint>", [int(r.lo) for r in ordered]),
                (hi, "array<bigint>", [int(r.hi) for r in ordered]),
            ],
        )
        src, extra = df.crossJoin(F.broadcast(one)), (lo, hi)
        lo_arr, hi_arr = F.col(lo), F.col(hi)
    k = grid_quantize(vec, grid)
    # Vectors longer than the bounds table would read past the literal
    # arrays (element_at → NULL lo/hi → silent NULL codes); raise
    # in-plan so a short table fails the batch instead of corrupting
    # the index (ADVICE r08).
    def _guarded(arr):
        return F.when(
            F.col("p0") >= F.lit(len(ordered)),
            F.raise_error(
                F.concat(
                    F.lit(
                        f"sq8_encode_map: vector dim exceeds the "
                        f"{len(ordered)}-row bounds table at p="
                    ),
                    (F.col("p0") + 1).cast("string"),
                )
            ).cast("long"),
        ).otherwise(F.element_at(arr, (F.col("p0") + 1).cast("int")))

    rows = src.select(key, *extra, F.posexplode(k).alias("p0", "v")).select(
        F.col(key),
        (F.col("p0") + 1).alias("p"),
        "v",
        _guarded(lo_arr).alias("lo"),
        _guarded(hi_arr).alias("hi"),
    )
    c = (
        F.when(F.col("hi") == F.col("lo"), F.lit(0).cast("long"))
        .otherwise(
            F.expr(
                f"least(greatest((v - lo) * {levels} div (hi - lo), "
                f"CAST(0 AS BIGINT)), CAST({levels} AS BIGINT))"
            )
        )
    )
    return rows.select(F.col(key), "p", c.alias("c"))


def prefix_encode_map(
    df: DataFrame,
    prefix: int = 16,
    grid: float = 1_000_000.0,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Dimension-truncated (Matryoshka-style) stage-A encoding as a
    PURE MAP — the prefix tier's member of the streaming-absorption
    family (grid_assign_map: IVF, grid_pq_encode_map: PQ,
    sq8_encode_map: SQ8): each arriving vector emits its first
    ``prefix`` grid coordinates, the artifact q_ann_recall_prefix's
    stage-A scan ranks over. The tier's "index" is just the projection
    rule, so absorption is the cheapest of the family — a slice, no
    broadcast table at all; the map is trivially batch-split-invariant
    (per-row pure) and Structured Streaming accepts it stateless.

    Same floor quantization as every grid operator; vectors SHORTER
    than ``prefix`` would silently emit short artifacts that corrupt
    the stage-A ranking (sqdist over ragged arrays) — fail loudly
    in-plan instead (the sq8_encode_map bounds-guard discipline).
    Returns (key, pk array<long>)."""
    if prefix < 1:
        raise ValueError(f"prefix_encode_map: prefix must be >= 1, got {prefix}")
    k = grid_quantize(vec, grid)
    guarded = F.when(
        F.size(k) < F.lit(prefix),
        F.raise_error(
            F.concat(
                F.lit(
                    f"prefix_encode_map: vector has fewer dims than "
                    f"prefix={prefix}: "
                ),
                F.size(k).cast("string"),
            )
        ).cast("array<bigint>"),
    ).otherwise(F.slice(k, 1, prefix))
    return df.select(F.col(key), guarded.alias("pk"))


def lsh_bucket(vec: Column | str, num_bits: int = 4) -> Column:
    """Sign-bit LSH bucket: bit i = (element_i > 0). Deterministic and
    SQL-portable; a production engine would use seeded random hyperplanes
    materialized as a broadcast constant — same plan shape."""
    v = F.col(vec) if isinstance(vec, str) else vec
    bucket = F.lit(0)
    for i in range(num_bits):
        bucket = bucket + F.when(
            F.element_at(v, i + 1) > 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
    return bucket


def lsh_near_pairs(
    corpus: DataFrame,
    threshold: float = 0.3,
    num_bits: int = 4,
    corpus_key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Approximate near-neighbor pairs: candidates share the sign-bit
    bucket (equi-join, shuffle on bucket), then exact cosine ≥ threshold.
    Recall trades off with num_bits; the *algorithm* is deterministic, so
    oracles replay it exactly.

    Output: (vec_a, vec_b, cos) with vec_a < vec_b.
    """
    c = corpus.select(
        F.col(corpus_key).alias("__id"),
        as_double_array(vec).alias("__v"),
        lsh_bucket(as_double_array(vec), num_bits).alias("__bkt"),
    )
    a = c.select(F.col("__id").alias("vec_a"), F.col("__v").alias("va"), "__bkt")
    b = c.select(F.col("__id").alias("vec_b"), F.col("__v").alias("vb"), "__bkt")
    return (
        a.join(b, on="__bkt")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cosine(F.col("va"), F.col("vb")).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def quantize_embeddings(
    df: DataFrame,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """L2-normalize + symmetric int8 quantization — the storage/transfer
    compression step an embedding corpus applies before ANN serving
    (4× smaller than float32, dot products stay ~exact after rescale).

    q_i = round(127 · x_i / max|x|) over the unit vector; ``scale``
    restores approximate float values (x_i ≈ q_i · scale). Pure Column
    expressions, one scan, no shuffle — at 100 TB this is a map-only
    rewrite of the table.

    The intermediates (norm, unit vector, max-abs) are staged as REAL
    columns, not nested subexpressions: higher-order-function lambdas
    re-evaluate captured expression trees per element, so inlining
    ``nrm`` inside ``transform(v, x -> x/nrm)`` makes the row O(d²)
    (and nesting ``unit`` inside the quantize transform O(d³)) —
    measured 33.5 s → 0.23 s at sf0.1 for this exact operator. Catalyst
    keeps the staged projections apart because the reused expressions
    are non-cheap.
    """
    staged = (
        df.select(F.col(key).alias(key), as_double_array(vec).alias("__v"))
        .withColumn("__nrm", norm(F.col("__v")))
        .withColumn("__unit", F.transform("__v", lambda x: x / F.col("__nrm")))
        .withColumn("__mx", F.array_max(F.transform("__unit", F.abs)))
    )
    return staged.select(
        key,
        F.round("__nrm", 6).alias("l2_norm"),
        F.round(F.col("__mx") / F.lit(127.0), 9).alias("scale"),
        F.transform(
            "__unit", lambda x: F.round(F.lit(127.0) * x / F.col("__mx")).cast("int")
        ).alias("q8"),
    )


def _sem_assigned(
    corpus: DataFrame, n_cells: int, key: str, vec: str
) -> DataFrame:
    """One-shot coarse assignment shared by :func:`semantic_dedup` and
    :func:`semantic_pairs`: unit-normalize, lowest-key seeds, nearest
    centroid via max_by over (sim, -cell) — a combinable aggregation
    (map-side partials), no per-vector window needed. Returns a
    PERSISTED (__c, cell, __u) frame — the caller stages it. Persisted
    because the consumers (both pair-join sides + the final assignment)
    would otherwise each re-run the assignment crossJoin (static plan
    shows no exchange reuse across the renamed sides). At 100 TB the
    same role is played by writing the corpus partitioned by cell — the
    IVF layout."""
    from pyspark.sql import Window

    from incubator_flink_old_spark.operators.text import _spread_narrow

    corpus = _spread_narrow(corpus)
    u = (
        corpus.select(F.col(key).alias("__c"), as_double_array(vec).alias("__v"))
        .withColumn("__nrm", norm(F.col("__v")))
        .select(
            "__c", F.transform("__v", lambda x: x / F.col("__nrm")).alias("__u")
        )
    )
    seeds = (
        u.orderBy("__c")
        .limit(n_cells)
        .select(
            F.row_number().over(Window.orderBy("__c")).alias("cell"),
            F.col("__u").alias("__cu"),
        )
    )
    return (
        u.crossJoin(F.broadcast(seeds))
        .select("__c", "__u", "cell", dot(F.col("__u"), F.col("__cu")).alias("sim"))
        .groupBy("__c")
        .agg(
            F.max_by("cell", F.struct(F.col("sim"), -F.col("cell"))).alias("cell"),
            F.first("__u").alias("__u"),
        )
        .persist()
    )


def semantic_pairs(
    corpus: DataFrame,
    n_cells: int = 8,
    threshold: float = 0.35,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """The PAIR view of :func:`semantic_dedup`'s decision — every
    within-cell pair at cosine ≥ threshold, lower key first: exactly the
    pairs whose higher-key member semantic_dedup drops, exposed so the
    semantic dedup tier can be JOINED against other tiers' pair sets
    (the lexical-vs-semantic agreement audit). Same quantizer, same
    unit-normalized single-dot-product pair arithmetic, same documented
    cross-cell recall sacrifice.

    Output: (vec_a, vec_b, cos) with vec_a < vec_b. Scale: identical to
    semantic_dedup — the O(n²) join runs per cell only."""
    with staged() as st:
        assigned = st.keep(_sem_assigned(corpus, n_cells, key, vec))
        a = assigned.select(
            F.col("__c").alias("vec_a"), "cell", F.col("__u").alias("__ua")
        )
        b = assigned.select(
            F.col("__c").alias("vec_b"), "cell", F.col("__u").alias("__ub")
        )
        out = (
            a.join(b, on="cell")
            .filter(F.col("vec_a") < F.col("vec_b"))
            .select(
                "vec_a", "vec_b", dot(F.col("__ua"), F.col("__ub")).alias("cos")
            )
            .filter(F.col("cos") >= threshold)
        )
        return out.localCheckpoint(eager=True)


def semantic_dedup(
    corpus: DataFrame,
    n_cells: int = 8,
    threshold: float = 0.35,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication: partition the corpus with a
    one-shot coarse quantizer (deterministic lowest-key seeds, nearest
    centroid by cosine), then inside each cell drop every vector that has
    a lower-key neighbor at cosine ≥ threshold — keeping one
    representative per semantic near-dup group.

    Scale shape: the O(n²) cosine comparison runs per CELL, never
    globally — n_cells grows with the corpus so cells stay bounded, and
    at 100 TB the corpus is written partitioned by cell making the
    within-cell self-join shuffle-free. Cross-cell near-dups are
    sacrificed by design (the documented SemDeDup recall trade-off).
    Vectors are unit-normalized ONCE before the pair join, so each pair
    costs one dot product. The fixture threshold (0.35) is calibrated to
    the synthetic embeddings' cosine range; production embeddings use
    ~0.95.

    Output: (vec_id, cell, keep) for every corpus vector.
    """
    with staged() as st:
        assigned = st.keep(_sem_assigned(corpus, n_cells, key, vec))
        a = assigned.select(F.col("__c").alias("__a"), F.col("cell"), F.col("__u").alias("__ua"))
        b = assigned.select(F.col("__c").alias("__b"), F.col("cell"), F.col("__u").alias("__ub"))
        dropped = (
            a.join(b, on="cell")
            .filter(F.col("__a") < F.col("__b"))
            .filter(dot(F.col("__ua"), F.col("__ub")) >= threshold)
            .select(F.col("__b").alias("__d"))
            .distinct()
        )
        out = (
            assigned.join(dropped, assigned["__c"] == dropped["__d"], "left")
            .select(
                F.col("__c").alias(key),
                "cell",
                F.col("__d").isNull().alias("keep"),
            )
        )
        # Materialize the keep decision so the cache can be released
        # before returning — the "no persist outlives its operator call"
        # rule (same pattern as dedup_clusters).
        return out.localCheckpoint(eager=True)


def centroid_outliers(
    df: DataFrame,
    group: str = "label",
    key: str = "vec_id",
    vec: str = "embedding",
    threshold: float = 0.0,
) -> DataFrame:
    """Embedding outlier gate: cosine of every vector to its own group's
    centroid, flagging vectors below ``threshold`` — the cheap stand-in
    for CLIP-score/quality filtering of paired (caption, image) or
    clustered embedding corpora before training.

    Scale shape: centroids are built with ONE posexplode aggregation
    keyed by (group, pos) — combinable partial averages, shuffle volume
    = corpus dims, never corpus×groups — and the |groups|-row centroid
    table broadcasts back onto the corpus, so the scoring pass is
    map-side. The corpus itself is never shuffled. Cosines are rounded
    to 6dp BEFORE thresholding so the keep decision replays identically
    on any engine (same contract as brute_force_topk).

    Output: (key, group, centroid_cos, is_outlier) per input vector.
    """
    e = df.select(F.col(key), F.col(group), as_double_array(vec).alias("__v"))
    # DECIMAL(27,15)-cast partial sums: double addition is fold-order-
    # dependent, and the shuffle's partial-aggregation order varies with
    # partitioning — exact decimal sums make the centroid (and thus the
    # keep decision) bit-identical on any partitioning/engine (the dsum
    # contract).
    cent = (
        e.select(group, F.posexplode("__v").alias("pos", "x"))
        .groupBy(group, "pos")
        .agg(
            (
                F.sum(F.col("x").cast("decimal(27,15)")).cast("double")
                / F.count("*")
            ).alias("m")
        )
        .groupBy(group)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(group, F.transform("pm", lambda s: s["m"]).alias("__c"))
    )
    cos = F.round(cosine(F.col("__v"), F.col("__c")), 6)
    return (
        e.join(F.broadcast(cent), on=group)
        .select(
            key,
            group,
            cos.alias("centroid_cos"),
            (cos < F.lit(threshold)).alias("is_outlier"),
        )
    )


def cosine_rerank_topk(
    cand: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_key: str = "q_id",
    corpus_key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Exact raw-double cosine top-k over candidate (query_key,
    corpus_key) pairs — the within-probed-cells rerank of IVF search
    (:func:`ivf_topk`, the IVF recall rows). Same cosine and tie-break as
    :func:`brute_force_topk`, so an unpruned candidate set reproduces it.
    Output: (q_id, vec_id, cos)."""
    qv = queries.select(query_key, as_double_array(vec).alias("__qv"))
    cv = corpus.select(corpus_key, as_double_array(vec).alias("__cv"))
    scored = (
        cand.select(query_key, corpus_key)
        .join(qv, on=query_key)
        .join(cv, on=corpus_key)
        .select(
            query_key,
            corpus_key,
            cosine(F.col("__qv"), F.col("__cv")).alias("cos"),
        )
    )
    return _topk(scored, k, query_key, corpus_key, "cos")


def grid_adc_topk(
    qg: DataFrame,
    codes: DataFrame,
    books: DataFrame,
    k: int = 5,
    cand: DataFrame | None = None,
    query_key: str = "q_id",
    corpus_key: str = "vec_id",
) -> DataFrame:
    """ADC (asymmetric distance computation) top-k over :func:`grid_pq`
    codes — the memory-bound scan of PQ search: each query's distance
    table holds the exact integer squared L2 from its subvectors (sliced
    by the codebook width) to every centroid, and a corpus vector's
    distance is its m table lookups summed. The tables broadcast over
    the code stream, so the corpus is read as m small ints per vector
    and never shuffles for scoring.

    ``qg`` = (query_key, qk) grid-quantized queries; ``cand`` =
    optional (query_key, corpus_key) pairs (the IVF probe prune) — only
    those pairs score. Output: (q_id, vec_id, score), score = −(exact
    ADC distance): higher is better and ties are exact integers, broken
    by corpus key."""
    width = F.size("bv")
    dtab = (
        F.broadcast(qg)
        .crossJoin(F.broadcast(books))
        .select(
            query_key,
            "j",
            F.col("cid").alias("code"),
            grid_sqdist(
                as_double_array(F.slice("qk", F.col("j") * width + 1, width)),
                as_double_array("bv"),
            ).alias("d"),
        )
    )
    on = ["j", "code"]
    if cand is not None:
        codes = codes.join(F.broadcast(cand), on=corpus_key)
        on.append(query_key)
    scored = (
        codes.join(F.broadcast(dtab), on=on)
        .groupBy(query_key, corpus_key)
        .agg((F.lit(0.0) - F.sum("d")).alias("score"))
    )
    return _topk(scored, k, query_key, corpus_key, "score")


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    kmeans_iters: int = 5,
    query_key: str = "q_id",
    corpus_key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the ANN scale path:
    :func:`grid_ivf` trains ``n_cells`` centers (``kmeans_iters`` Lloyd
    rounds) and assigns every corpus vector to a cell — at scale the
    corpus is *written* partitioned by cell, so the probe join below is
    a partition-pruned scan, not a shuffle. Each query scores only the
    vectors in its ``n_probe`` nearest cells (:func:`grid_probes`),
    exact cosine within (:func:`cosine_rerank_topk`).

    Approximate by design (recall < 1 when true neighbors live outside
    probed cells); deterministic given the lowest-key seeds and the
    tie-breaks. Output like brute_force_topk: (q_id, vec_id, cos)."""
    cells, centers = grid_ivf(
        corpus, n_cells=n_cells, iters=kmeans_iters, key=corpus_key, vec=vec
    )
    cand = grid_probes(queries, centers, n_probe, key=query_key, vec=vec).join(
        cells, on="cell"
    )
    return cosine_rerank_topk(
        cand, queries, corpus, k, query_key, corpus_key, vec
    )


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    m: int = 8,
    n_centroids: int = 16,
    kmeans_iters: int = 3,
    query_key: str = "q_id",
    corpus_key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Product-quantization approximate top-k: :func:`grid_pq` trains
    ``m`` per-subspace codebooks of ``n_centroids`` (``kmeans_iters``
    Lloyd rounds) and encodes the corpus; :func:`grid_adc_topk` scans
    the codes. At scale codes live columnar next to the ids and raw
    vectors stay cold — ADC reads ~1/64th the bytes of brute force, and
    composes with the IVF cell layout (:func:`ivf_pq_topk`).

    Approximate by design (quantization error); deterministic given the
    lowest-key seeds and tie-breaks. Output: (q_id, vec_id, score),
    score = −(exact ADC squared grid distance)."""
    codes, books = grid_pq(
        corpus, m=m, n_centroids=n_centroids, iters=kmeans_iters,
        key=corpus_key, vec=vec,
    )
    qg = queries.select(query_key, grid_quantize(vec).alias("qk"))
    return grid_adc_topk(
        qg, codes, books, k, query_key=query_key, corpus_key=corpus_key
    )


def ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 4,
    m: int = 8,
    n_centroids: int = 16,
    kmeans_iters: int = 3,
    query_key: str = "q_id",
    corpus_key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """IVF+PQ — the composed billion-scale ANN layout: the
    :func:`grid_ivf` probe prunes WHICH vectors are scanned (n_probe of
    n_cells cells, partition-pruned when the code table is written by
    cell) and :func:`grid_pq`/ADC compresses HOW each is scanned (m code
    lookups against a broadcast distance table instead of a d-dim read).
    ``kmeans_iters`` drives both trainers.

    Codes quantize the vector itself, not the residual v − centroid(cell)
    — residual encoding couples the codebooks to the cell layout
    (re-encode the corpus on any re-clustering); the composition points
    — probe prune, equi-join on cell, ADC within — are identical either
    way. A corpus vector used as a query probes its own cell first and
    its own codes are its nearest, so self-retrieval is exact. Output:
    (q_id, vec_id, score), score = −(exact ADC squared grid distance)."""
    cells, centers = grid_ivf(
        corpus, n_cells=n_cells, iters=kmeans_iters, key=corpus_key, vec=vec
    )
    codes, books = grid_pq(
        corpus, m=m, n_centroids=n_centroids, iters=kmeans_iters,
        key=corpus_key, vec=vec,
    )
    cand = (
        grid_probes(queries, centers, n_probe, key=query_key, vec=vec)
        .join(cells, on="cell")
        .select(query_key, corpus_key)
    )
    qg = queries.select(query_key, grid_quantize(vec).alias("qk"))
    return grid_adc_topk(qg, codes, books, k, cand, query_key, corpus_key)


def embedding_covariance(
    df: DataFrame, key: str = "vec_id", vec: str = "embedding"
) -> DataFrame:
    """Quantized-centered covariance of the embedding dimensions —
    (i, j, cov) for every ordered dimension pair, decimal-exact and
    therefore bit-identical on any engine/partitioning.

    Determinism contract — everything lives on an INTEGER grid until
    the single final division: components floor-quantize to micro-units
    k = FLOOR(x·1e6) (floor of identical doubles is identical — unlike
    round(), which disagrees across engines at half-way boundaries on
    full-mantissa doubles; found at sf0.01: one boundary hit flipped a
    6th decimal), centering happens WITHOUT division as
    c' = n·k − Σk (exact BIGINTs), and each moment Σ c'_i·c'_j is a
    sum of exact DECIMAL(19,0) products (int128 on both engines). The
    only float op is the last CAST(Σ AS DOUBLE) / (n³·1e12) — identical
    operands, identical IEEE result. Quantization perturbs the spectrum
    by ≤1e-6 per component: the price of a hash-stable oracle.

    Scale shape: one posexplode to (row, i, c'_i) KEEPING the centered
    array in the row (no self-join), then a transform+posexplode to
    (i, j, c'_i·c'_j) and a combinable (i, j) aggregation — shuffle
    volume is d² per partition (map-side partials), never n·d². d=64
    → 4,096 output rows regardless of corpus size.
    """
    from incubator_flink_old_spark.operators.text import _spread_narrow

    df = _spread_narrow(df)
    e = df.select(F.col(key), grid_quantize(vec).alias("__k"))
    sums = (
        e.select(F.posexplode("__k").alias("j", "k"))
        .groupBy("j")
        .agg(F.sum("k").alias("s"))
        .groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("j", "s"))).alias("js"))
        .select(F.transform("js", lambda s: s["s"]).alias("__s"))
    )
    n_row = e.count()
    centered = e.crossJoin(F.broadcast(sums)).select(
        F.col(key),
        F.zip_with(
            "__k", "__s", lambda k, s: F.lit(n_row) * k - s
        ).alias("__c"),
    )
    denom = float(n_row) * float(n_row) * float(n_row) * 1e12
    prods = (
        centered.select("__c", F.posexplode("__c").alias("i", "ci"))
        .select(
            "i",
            F.posexplode(
                F.transform(
                    "__c",
                    lambda x: F.col("ci").cast("decimal(19,0)")
                    * x.cast("decimal(19,0)"),
                )
            ).alias("j", "p"),
        )
        .groupBy("i", "j")
        .agg((F.sum("p").cast("double") / F.lit(denom)).alias("cov"))
    )
    return prods


def pca_top_component(
    df: DataFrame,
    key: str = "vec_id",
    vec: str = "embedding",
    iters: int = 20,
) -> DataFrame:
    """Dominant principal direction by power iteration over the
    d×d covariance — the dimensionality-reduction workhorse for
    embedding pipelines (whitening checks, 1-D curriculum ordering,
    drift tracking along the top component).

    The covariance collapses to d² = 4,096 rows
    (:func:`embedding_covariance` — decimal-exact, corpus never
    re-shuffled), which is a BOUNDED driver finish (same class as the
    k-means centroid collect): the power iteration runs driver-side on
    the tiny matrix, deterministically (fixed start 1/√d, fixed
    iteration count, sign pinned by the first nonzero coordinate). The
    resulting direction broadcasts back as a literal and the projection
    is one map-side zip_with dot product per row.

    Output: (key, pc1) — each vector's scalar projection onto the
    dominant component, rounded 6dp. Not SQL-oracle-checkable (the
    eigensolve is iterative); pytest covers the eigen-law Gv ≈ λv and
    projection determinism, and the covariance feeding it IS
    oracle-checked (q_embed_cov_profile).
    """
    import math

    cov_rows = embedding_covariance(df, key, vec).collect()
    d = max(r["i"] for r in cov_rows) + 1
    g = [[0.0] * d for _ in range(d)]
    for r in cov_rows:
        g[r["i"]][r["j"]] = r["cov"]
    v = [1.0 / math.sqrt(d)] * d
    for _ in range(iters):
        w = [sum(g[i][j] * v[j] for j in range(d)) for i in range(d)]
        nrm = math.sqrt(sum(x * x for x in w)) or 1.0
        v = [x / nrm for x in w]
    # pin the sign so the direction is unique
    lead = next((x for x in v if abs(x) > 1e-12), 1.0)
    if lead < 0:
        v = [-x for x in v]
    vlit = F.array(*[F.lit(float(x)) for x in v])
    e = df.select(
        F.col(key),
        F.transform(as_double_array(vec), lambda x: F.round(x, 6)).alias("__x"),
    )
    proj = F.aggregate(
        F.zip_with("__x", vlit, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return e.select(key, F.round(proj, 6).alias("pc1"))


def semantic_screen_events(
    new_emb: DataFrame,
    corpus_emb: DataFrame,
    n_cells: int = 8,
    iters: int = 2,
    n_probe: int = 3,
    threshold: float = 0.40,
    grid: float = 1_000_000.0,
    key: str = "vec_id",
    vec: str = "embedding",
    carry: tuple[str, ...] = (),
    index: "tuple[DataFrame, DataFrame] | None" = None,
) -> DataFrame:
    """SEMANTIC near-dup SCREEN EVENTS for the ingest front door — the
    embedding-space sibling of the MinHash/winnow screens: each arriving
    vector probes the STANDING corpus's IVF index (``grid_ivf`` — the
    cross-engine-replayable integer-grid trainer) and emits one event
    per corpus vector in the probed cells whose exact grid cosine
    reaches ``threshold``. Duplicate-insensitive by construction (the
    existence-MAX contract of ``streaming_ingest_gate.extra_screens``);
    the q_semantic_dedup family's SemDeDup screen, re-shaped as
    per-arrival events against a frozen index.

    Approximation is the SERVE trade-off, not an accident: a true
    neighbor outside the ``n_probe`` probed cells is missed — exactly
    the production IVF recall trade-off the q_ann_recall_* rows
    measure. The oracle replays the SAME probe (train, probe ranking,
    verify are all integer-exact / correctly-rounded arithmetic), so
    screen parity holds bit-for-bit despite the approximation.

    Scale: the trainer is the standing grid-IVF artifact (at 100 TB:
    trained once, maintained by q_ivf_incremental's delta absorb); the
    probe is a broadcast of n_cells centers, the candidate fetch a
    partition-pruned equi-join on cell, and the verify reads only the
    probed cells' vectors — per-arrival cost is O(corpus/n_cells ·
    n_probe), never the corpus. The corpus-side joins are stream-static;
    this BATCH form ranks the probes with a per-arrival window, which a
    streaming deployment replaces with the :func:`grid_assign_map`
    recipe (literal collected centers, map-side array sort + slice for
    the top-n_probe cells — same arithmetic, no window; that form is
    :func:`semantic_screen_events_map`, law-pinned map ≡ window in
    tests/test_wave47.py).

    ``index`` supplies the STANDING (cells, centers) artifact instead
    of training here — the absorbed-index serve path (``n_cells`` /
    ``iters`` are then unused): cells is the (key, cell) assignment and
    centers the (cell, cv) table; ``corpus_emb`` must still cover every
    key in cells (it provides the verify vectors).

    Optimization round 12 (guide §2.4): the probe ranking delegates to
    :func:`semantic_screen_events_map`'s literal sorted-prefix fold —
    the centers are collected (bounded: n_cells rows, the same rows the
    old crossJoin broadcast) and the per-arrival ROW_NUMBER window,
    whose exchange + sort the arriving side paid on every wave, is
    gone. Bit-equal by the map ≡ window law (tests/test_wave47.py,
    which pins the fold against an inline window-rank reference).

    Returns (doc_a, *carry, doc_b, cos)."""
    if n_probe <= 0:
        # A degenerate probe count silently emits ZERO events — an
        # unscreened front door admitting semantic duplicates (the
        # centers_rows guard's rationale; the token_budget_chunks
        # fail-loud convention).
        raise ValueError(
            f"semantic_screen_events: n_probe must be positive, got {n_probe}"
        )
    if index is None:
        cells, centers = grid_ivf(
            corpus_emb,
            n_cells=n_cells,
            iters=iters,
            grid=grid,
            key=key,
            vec=vec,
        )
    else:
        cells, centers = index
    centers_rows = centers.collect()  # bounded: n_cells rows
    if not centers_rows:
        # Empty corpus/index: the window form returned no events (its
        # probe crossJoin had zero centers); preserve that instead of
        # the map form's fail-loud guard (which protects STREAMING
        # callers from a silently unscreened front door). doc_b is
        # typed from the CORPUS key — the non-empty path derives it
        # from corpus_emb, and aliasing new_emb's key here diverged the
        # two branches' schemas whenever the key types differ
        # (ADVICE r12; pinned in tests/test_wave48.py).
        return (
            new_emb.select(
                F.col(key).alias("doc_a"), *[F.col(c) for c in carry]
            )
            .filter(F.lit(False))
            .crossJoin(
                corpus_emb.select(F.col(key).alias("doc_b")).filter(
                    F.lit(False)
                )
            )
            .select("doc_a", *carry, "doc_b", F.lit(0.0).alias("cos"))
        )
    return semantic_screen_events_map(
        new_emb,
        centers_rows,
        cells,
        corpus_emb,
        n_probe=n_probe,
        threshold=threshold,
        grid=grid,
        key=key,
        vec=vec,
        carry=carry,
    )


def semantic_screen_events_map(
    new_emb: DataFrame,
    centers_rows,
    corpus_cells: DataFrame,
    corpus_emb: DataFrame,
    n_probe: int = 3,
    threshold: float = 0.40,
    grid: float = 1_000_000.0,
    key: str = "vec_id",
    vec: str = "embedding",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """:func:`semantic_screen_events`'s STREAMING deployment form — the
    probe as a PURE MAP (VERDICT r11 item 1): the batch form ranks a
    query's cells with a per-arrival ROW_NUMBER window, which is legal
    batch-side only; here the centers arrive as collected rows (bounded
    — n_cells of them, the :func:`grid_assign_map` recipe) embedded as
    a literal (cell, cv) array, and the top-``n_probe`` cells fall out
    of an expression-level ``array_sort`` (comparator: sim desc, cell
    asc — the window's exact ORDER BY) + ``slice`` + ``explode``. NO
    window, NO shuffle on the query side; candidate fetch and verify
    are plain equi-joins (stream-static when ``new_emb`` streams) —
    the whole screen is streaming-legal, so the semantic gate runs at
    crawl throughput like the lexical screens.

    Arithmetic is bit-identical to the window form: same floor
    quantization, same :func:`cosine_safe` (−2.0 zero-norm sentinel —
    strictly below any true cosine, so a sentinel never outranks a real
    cell), and ``array_sort``'s total order (sim desc, cell asc) equals
    the window's ROW_NUMBER order, so the sliced prefix IS the window's
    rn ≤ n_probe set (map ≡ window law, tests/test_wave47.py).

    ``corpus_cells`` is the standing (key, cell) assignment and
    ``corpus_emb`` the standing vectors — the frozen serve artifacts
    (the caller pins them DISK_ONLY for stream-static reads and absorbs
    deltas via :func:`grid_assign_map`).

    Scale: per arrival O(n_cells) literal-array work map-side, then a
    partition-pruned fetch of ``n_probe`` cells' candidates —
    O(corpus/n_cells · n_probe) per arrival, never the corpus; state-
    free (the gate's one fold owns all state).

    Returns (doc_a, *carry, doc_b, cos)."""
    if not centers_rows:
        # The grid_assign_map guard: an empty literal index would
        # silently emit zero probes (an unscreened front door admits
        # semantic duplicates) — fail loudly instead.
        raise ValueError("semantic_screen_events_map: centers_rows is empty")
    if n_probe <= 0:
        # slice(, 1, 0) would drop every query row on explode — the
        # same silent-unscreened failure, same guard.
        raise ValueError(
            "semantic_screen_events_map: n_probe must be positive,"
            f" got {n_probe}"
        )
    from incubator_flink_old_spark.operators.text import (
        _spread_narrow,
        _verify_barrier,
    )

    # Spread a NARROW batch arrival wave to cluster width (no-op on
    # streams and on wide scans — _spread_narrow's contract): the whole
    # probe + candidate-fetch + verify pipeline below is broadcast-join
    # only, so a single-split wave otherwise runs it in ONE task
    # (measured at sf0.1: the screen's noop wall ≈ its executor seconds,
    # parallelism 1.0 — optimization round 13, the r12 q_dedup_minhash
    # shape recurring on the semantic tier).
    new_emb = _spread_narrow(new_emb)
    qg = new_emb.select(
        F.col(key).alias("doc_a"),
        *[F.col(c) for c in carry],
        grid_quantize(vec, grid).alias("qk"),
    )
    # Stage the query-side squared norm ONCE per arrival (it is exact —
    # integer-valued doubles below 2^53 — so the staged value is
    # bit-identical to cosine_safe's inline fold): the verify below
    # otherwise re-folds BOTH norms per candidate pair, tripling the
    # per-pair array work (guide §2.3: compute once, carry a scalar).
    qg = qg.withColumn(
        "__qn2",
        F.aggregate(
            as_double_array("qk"), F.lit(0.0), lambda acc, x: acc + x * x
        ),
    )
    qg, arr = _attach_centers(qg, centers_rows)
    sims = _cell_sims(F.col("qk"), arr)
    # Total order (s desc, c asc) — the window form's ORDER BY verbatim;
    # doubles here are grid cosines or the -2.0 sentinel, never NaN, so
    # the three-way comparison is total.
    by_sim_desc_cell_asc = lambda l, r: (  # noqa: E731
        F.when(l.getField("s") > r.getField("s"), F.lit(-1))
        .when(l.getField("s") < r.getField("s"), F.lit(1))
        .when(l.getField("c") < r.getField("c"), F.lit(-1))
        .when(l.getField("c") > r.getField("c"), F.lit(1))
        .otherwise(F.lit(0))
    )
    probes = (
        qg.withColumn(
            "cell",
            F.explode(
                F.transform(
                    F.slice(
                        F.array_sort(sims, by_sim_desc_cell_asc),
                        1,
                        n_probe,
                    ),
                    lambda x: x.getField("c"),
                )
            ),
        )
        .select("doc_a", *carry, "qk", "__qn2", "cell")
    )
    eg = corpus_emb.select(
        F.col(key).alias("doc_b"), grid_quantize(vec, grid).alias("ck")
    ).withColumn(
        # corpus-side squared norm, once per corpus vector (see __qn2)
        "__cn2",
        F.aggregate(
            as_double_array("ck"), F.lit(0.0), lambda acc, x: acc + x * x
        ),
    )
    cand = (
        probes.join(
            corpus_cells.select(F.col(key).alias("doc_b"), "cell"), on="cell"
        )
        .join(eg, on="doc_b")
        # self-pair drop BEFORE the per-pair dot fold (same rows, same
        # result — the cosine never decides this predicate)
        .filter(F.col("doc_a") != F.col("doc_b"))
    )
    # cosine_safe's arithmetic verbatim, with both norm folds replaced by
    # the staged exact columns; the Generate barrier (_verify_barrier)
    # keeps the threshold filter from being substituted below the
    # projection, which would evaluate the dot fold twice per candidate
    # (the _jaccard_verify lesson applied to the semantic verify).
    scored = cand.select(
        "doc_a",
        *carry,
        "doc_b",
        F.when(
            (F.col("__qn2") == F.lit(0.0)) | (F.col("__cn2") == F.lit(0.0)),
            F.lit(-2.0),
        )
        .otherwise(
            dot(as_double_array("qk"), as_double_array("ck"))
            / (F.sqrt("__qn2") * F.sqrt("__cn2"))
        )
        .alias("cos"),
    )
    return _verify_barrier(
        scored,
        F.struct(
            F.col("doc_a"),
            *[F.col(c) for c in carry],
            F.col("doc_b"),
            F.col("cos"),
        ),
    ).filter(F.col("cos") >= threshold)
