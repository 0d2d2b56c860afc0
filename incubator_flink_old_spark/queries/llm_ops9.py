"""Training-data pipeline queries, wave 20 (round 4): a second
Structured Streaming driver row (agg-based dedup parity), time-range
rolling windows, sketch-calibration audit (MinHash estimate vs exact
jaccard), nearest-duplicate inspection, model-eval ops (lang-ID
confusion matrix, kNN label classification), graph 2-hop/bipartite
profiles, product analytics (time-to-event, RFM, autocorrelation), and
a KS distribution-drift gate. Every query carries a DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from incubator_flink_old_spark.queries import register
from incubator_flink_old_spark.queries._util import t
from incubator_flink_old_spark.queries.llm_ops import SQL_TOKS
from incubator_flink_old_spark.queries.llm_ops8 import _SPLIT_SQL, _split_col

# --------------------------------------------------------------------------
# Streaming dedup parity (second streaming driver row — W5 surface)
# --------------------------------------------------------------------------


@register(
    "q_stream_dedup_parity",
    oracle="""
    SELECT user_id, event_type,
           MIN(event_id) AS canonical_event,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id, event_type
    """,
)
def q_stream_dedup_parity(spark, sf_dir):
    """Streaming canonical-key dedup parity (W5): the events replayed
    through readStream and compacted per (user_id, event_type) to the
    MIN event id + arrival count — the order-independent formulation of
    "keep one canonical row per key" (a keep-first dedup depends on
    arrival order, which a parallel replay cannot pin; min-key is the
    same decision the batch exact_dedup operator makes). Complete-mode
    memory sink, bounded replay ≡ batch SQL, hash-checked by the
    driver."""
    from incubator_flink_old_spark.streaming import (
        read_events_stream,
        stream_result,
    )

    stream = read_events_stream(spark, sf_dir)
    agg = stream.groupBy("user_id", "event_type").agg(
        F.min("event_id").alias("canonical_event"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return stream_result(agg, "complete")


# --------------------------------------------------------------------------
# Time-range rolling window
# --------------------------------------------------------------------------
@register(
    "q_rolling_range_window",
    oracle="""
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) OVER w AS DOUBLE) AS sum_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
)
def q_rolling_range_window(spark, sf_dir):
    """Time-interval rolling aggregates: per user, the count and
    decimal-exact sum of activity in the trailing hour of EVENT TIME —
    a RANGE frame over epoch MICROSECONDS, not a row frame (gaps and
    bursts change the frame size; ties are all in-frame by definition
    in both engines). Microsecond keys matter: second-floored epochs
    (Spark unix_timestamp) vs second-ROUNDED epochs (DuckDB
    epoch()::BIGINT) flip frame membership for event pairs near the
    3600 s boundary — found at sf0.1, 2 rows differed. The
    decimal-staged sum makes the result bit-identical under any fold
    order (dsum contract). At scale the window is shuffle-free under
    entity bucketing."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-3600 * 1_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum(F.col("value").cast("decimal(27,6)"))
        .over(w)
        .cast("double")
        .alias("sum_1h"),
    )


# --------------------------------------------------------------------------
# Sketch calibration: MinHash estimate vs exact jaccard
# --------------------------------------------------------------------------
#: Signature width shared by the oracle SQL and the Spark column list of
#: q_minhash_est_jaccard (ADVICE r04 item 2: one constant, both sides).
_EST_NUM_HASHES = 8


def _est_jaccard_oracle(num_hashes: int = _EST_NUM_HASHES, band_size: int = 4,
                        threshold: float = 0.3) -> str:
    mh_exprs = ",\n               ".join(
        f"list_aggregate(list_transform(tk, x -> md5('{j}|' || x)), 'min') AS mh{j}"
        for j in range(num_hashes)
    )
    n_bands = num_hashes // band_size
    band_selects = "\n        UNION ALL\n        ".join(
        "SELECT doc_id, {b} AS band, md5({expr}) AS bucket FROM sigs".format(
            b=b,
            expr=" || '|' || ".join(
                f"mh{b * band_size + r}" for r in range(band_size)
            ),
        )
        for b in range(n_bands)
    )
    agree = " + ".join(
        f"(CASE WHEN sa.mh{j} = sb.mh{j} THEN 1 ELSE 0 END)"
        for j in range(num_hashes)
    )
    return rf"""
    WITH toks AS ({SQL_TOKS}),
    sigs AS (
        SELECT doc_id, tk,
               {mh_exprs}
        FROM toks
    ),
    bands AS (
        {band_selects}
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                     AND a.doc_id < b.doc_id
    ),
    j AS (
        SELECT c.doc_a, c.doc_b,
               CAST(len(list_intersect(ta.tk, tb.tk)) AS DOUBLE)
                 / len(list_distinct(list_concat(ta.tk, tb.tk))) AS jaccard
        FROM cands c
        JOIN toks ta ON c.doc_a = ta.doc_id
        JOIN toks tb ON c.doc_b = tb.doc_id
        WHERE CAST(len(list_intersect(ta.tk, tb.tk)) AS DOUBLE)
                 / len(list_distinct(list_concat(ta.tk, tb.tk)))
              >= {threshold}
    )
    SELECT j.doc_a, j.doc_b,
           ROUND(j.jaccard, 6) AS jac_exact,
           ({agree}) / {num_hashes}.0 AS jac_est,
           ROUND(ABS(({agree}) / {num_hashes}.0 - j.jaccard), 6) AS est_err
    FROM j
    JOIN sigs sa ON j.doc_a = sa.doc_id
    JOIN sigs sb ON j.doc_b = sb.doc_id
    """


@register("q_minhash_est_jaccard", oracle=_est_jaccard_oracle())
def q_minhash_est_jaccard(spark, sf_dir):
    """Sketch-calibration audit: for every verified near-dup candidate
    (jaccard ≥ 0.3), the MinHash ESTIMATE (fraction of 8 agreeing
    signature slots — what a signature-only pipeline would act on) next
    to the exact jaccard and the absolute error. The audit that tells a
    100 TB deployment whether signature agreement alone can replace the
    verify pass at its chosen threshold. Estimates are exact multiples
    of 1/8 — no float-order hazards."""
    from incubator_flink_old_spark.operators.text import (
        _band_rows,
        _hashed_set,
        _jaccard_verify,
        _signatures,
        _spread_narrow,
        _stage_tokens,
        band_candidates,
    )

    # Spread BEFORE the eager checkpoint: the checkpoint freezes its
    # input partitioning, and a single-split fixture scan would pin the
    # whole signature-fed pipeline to one task (optimization round 12).
    docs = _spread_narrow(t(spark, sf_dir, "documents"))
    staged = _stage_tokens(docs, "text", "doc_id")
    # One (doc_id, __n, mh*, __toks) frame feeds all four consumers (band
    # generation, the verify token sets and both est-join sides):
    # materialized eagerly — the frame is |docs| × 8 md5 strings plus
    # one hashed token set per doc, small — so the tokenize and the
    # 8-hash pass over every distinct token run once, not once per
    # consumer; __n rides along, so the bands need no second tokenize
    # for the size-ratio prefilter.
    nh = _EST_NUM_HASHES
    toks = _hashed_set(F.col("__dt")).alias("__toks")
    sigs = _signatures(staged, ["doc_id", toks], nh).localCheckpoint(eager=True)
    toksets = sigs.select(F.col("doc_id").alias("__k"), "__toks")
    # join_hint: the checkpointed sigs are a LogicalRDD with no size
    # stats, so the band self-join planned as a SortMergeJoin — and its
    # (band, bucket) exchange is HOT-BUCKET skewed (too few bytes for AQE
    # skew split), serializing candidate generation through 1-2 tasks
    # (measured wall ≈ engine). The broadcast hint restores the pair
    # family's BHJ shape: probe side keeps the spread partitioning, hot
    # buckets stream against the broadcast map (optimization round 12).
    cands = band_candidates(
        _band_rows(sigs, ["doc_id"], nh, 4), 0.3, join_hint="broadcast"
    )
    pairs = _jaccard_verify(cands, toksets, toksets, 0.3)
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{j}").alias(f"a{j}") for j in range(nh)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{j}").alias(f"b{j}") for j in range(nh)],
    )
    agree = sum(
        [
            F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
            for j in range(nh)
        ],
        F.lit(0),
    )
    est = agree / F.lit(float(nh))
    return (
        pairs.join(sa, on="doc_a")
        .join(sb, on="doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round("jaccard", 6).alias("jac_exact"),
            est.alias("jac_est"),
            F.round(F.abs(est - F.col("jaccard")), 6).alias("est_err"),
        )
    )


def _jaccard_neighbors_oracle() -> str:
    from incubator_flink_old_spark.queries.llm_ops import _minhash_oracle

    return f"""
    WITH p AS (
        SELECT doc_a, doc_b, jaccard
        FROM ({_minhash_oracle(band_size=4)}) q
    ),
    sym AS (
        SELECT doc_a AS doc_id, doc_b AS nbr, jaccard FROM p
        UNION ALL
        SELECT doc_b AS doc_id, doc_a AS nbr, jaccard FROM p
    ),
    r AS (
        SELECT doc_id, nbr, jaccard,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY jaccard DESC, nbr) AS rn
        FROM sym)
    SELECT doc_id, nbr, ROUND(jaccard, 6) AS jaccard
    FROM r WHERE rn <= 3
    """


@register("q_jaccard_neighbors", oracle=_jaccard_neighbors_oracle())
def q_jaccard_neighbors(spark, sf_dir):
    """Nearest-duplicate inspection: each document's top-3 most similar
    neighbors (by exact jaccard, ties by neighbor id) among the
    MinHash-LSH verified pairs — the per-document view a curation
    reviewer drills into after the pair list. The pair DAG shuffles
    once; symmetrization is a per-row explode (never union-of-
    projections, which would plant the pair pipeline twice in the
    plan); the window partitions by doc over near-dup-bounded groups."""
    from incubator_flink_old_spark.operators.text import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(
        t(spark, sf_dir, "documents"), band_size=4, jaccard_threshold=0.7
    )
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("doc_id"),
                    F.col("doc_b").alias("nbr"),
                    F.col("jaccard"),
                ),
                F.struct(
                    F.col("doc_b").alias("doc_id"),
                    F.col("doc_a").alias("nbr"),
                    F.col("jaccard"),
                ),
            )
        ).alias("e")
    ).select("e.doc_id", "e.nbr", "e.jaccard")
    w = Window.partitionBy("doc_id").orderBy(
        F.col("jaccard").desc(), F.col("nbr")
    )
    return (
        sym.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "nbr", F.round("jaccard", 6).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# Model-eval ops
# --------------------------------------------------------------------------
@register(
    "q_lang_confusion",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           x -> x <> '') AS tka
        FROM documents),
    s AS (
        SELECT doc_id,
               CAST(len(list_filter(tka, x -> x IN ('the','a','of','and','to'))) AS INT) AS s_en,
               CAST(len(list_filter(tka, x -> x IN ('der','die','das','und','ein'))) AS INT) AS s_de,
               CAST(len(list_filter(tka, x -> x IN ('le','la','les','et','un'))) AS INT) AS s_fr,
               CAST(len(list_filter(tka, x -> x IN ('el','la','los','y','una'))) AS INT) AS s_es
        FROM toks),
    pred AS (
        SELECT doc_id,
               CASE WHEN GREATEST(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
                    WHEN s_en = GREATEST(s_en, s_de, s_fr, s_es) THEN 'en'
                    WHEN s_de = GREATEST(s_en, s_de, s_fr, s_es) THEN 'de'
                    WHEN s_fr = GREATEST(s_en, s_de, s_fr, s_es) THEN 'fr'
                    ELSE 'es' END AS lang_pred
        FROM s)
    SELECT d.lang AS lang_true, p.lang_pred,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / SUM(COUNT(*)) OVER (PARTITION BY d.lang), 6) AS row_share
    FROM documents d JOIN pred p USING (doc_id)
    GROUP BY d.lang, p.lang_pred
    """,
)
def q_lang_confusion(spark, sf_dir):
    """Language-ID confusion matrix: the heuristic classifier's
    prediction (operators/text.language_id) crossed with the fixture's
    ground-truth lang column — counts and per-true-class shares, the
    evaluation view any classifier gate ships with. |langs|²-sized
    output; the share normalizes via a window over the tiny matrix."""
    from incubator_flink_old_spark.operators.text import language_id

    docs = t(spark, sf_dir, "documents")
    pred = language_id(docs).select("doc_id", "lang_pred")
    m = (
        docs.select("doc_id", F.col("lang").alias("lang_true"))
        .join(pred, on="doc_id")
        .groupBy("lang_true", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    share = F.col("n").cast("double") / F.sum("n").over(
        Window.partitionBy("lang_true")
    )
    return m.select(
        "lang_true", "lang_pred", "n", F.round(share, 6).alias("row_share")
    )


@register(
    "q_knn_classify",
    oracle="""
    WITH c AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS q_id, label AS true_label, v AS qv
          FROM c WHERE vec_id < 20),
    scored AS (
        SELECT q.q_id, q.true_label, c.vec_id, c.label,
               list_dot_product(q.qv, c.v)
                 / (sqrt(list_dot_product(q.qv, q.qv))
                    * sqrt(list_dot_product(c.v, c.v))) AS raw
        FROM q CROSS JOIN c WHERE c.vec_id <> q.q_id),
    ranked AS (
        SELECT q_id, true_label, label,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY raw DESC, vec_id) AS rn
        FROM scored),
    votes AS (
        SELECT q_id, true_label, label, COUNT(*) AS cnt
        FROM ranked WHERE rn <= 5 GROUP BY q_id, true_label, label),
    win AS (
        SELECT q_id, true_label, label AS pred_label,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cnt DESC, label) AS vr
        FROM votes)
    SELECT q_id, true_label, pred_label,
           pred_label = true_label AS correct
    FROM win WHERE vr = 1
    """,
)
def q_knn_classify(spark, sf_dir):
    """kNN label classification over the embedding corpus: for 20 query
    vectors, the majority label of the exact cosine top-5 neighbors
    (self excluded; vote ties broken toward the smaller label) against
    the ground-truth label — the eval harness that certifies an ANN
    index is good enough to replace brute force for labeling jobs.
    Composes brute_force_topk (broadcast query side) with a
    vote-count window over a 20×5 frame."""
    from incubator_flink_old_spark.operators.similarity import brute_force_topk

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    # self excluded BEFORE ranking (exact-duplicate vectors tie self's
    # cosine, so rank-then-drop could diverge from the oracle's
    # exclude-then-rank)
    nbrs = brute_force_topk(queries, emb, k=5, exclude_self=True)
    labels = emb.select("vec_id", "label")
    truth = emb.select(
        F.col("vec_id").alias("q_id"), F.col("label").alias("true_label")
    )
    votes = (
        nbrs.join(F.broadcast(labels), on="vec_id")
        .groupBy("q_id", "label")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    vr = Window.partitionBy("q_id").orderBy(F.col("cnt").desc(), F.col("label"))
    pred = (
        votes.withColumn("vr", F.row_number().over(vr))
        .filter(F.col("vr") == 1)
        .select("q_id", F.col("label").alias("pred_label"))
    )
    return (
        pred.join(F.broadcast(truth), on="q_id")
        .select(
            "q_id",
            "true_label",
            "pred_label",
            (F.col("pred_label") == F.col("true_label")).alias("correct"),
        )
    )


# --------------------------------------------------------------------------
# Graph profiles
# --------------------------------------------------------------------------
def _install_graph_oracles():
    from incubator_flink_old_spark.queries import ORACLES
    from incubator_flink_old_spark.queries.iterations import EDGES_SQL

    ORACLES["q_graph_2hop"] = f"""
    WITH edges AS ({EDGES_SQL}),
    sym AS (
        SELECT src, dst FROM edges WHERE src <> dst
        UNION
        SELECT dst AS src, src AS dst FROM edges WHERE src <> dst
    ),
    two AS (
        SELECT DISTINCT a.src AS id, b.dst AS h2
        FROM sym a JOIN sym b ON a.dst = b.src
        WHERE b.dst <> a.src
    ),
    pruned AS (
        SELECT t.id, t.h2 FROM two t
        LEFT JOIN sym s ON t.id = s.src AND t.h2 = s.dst
        WHERE s.src IS NULL
    )
    SELECT id, CAST(COUNT(*) AS BIGINT) AS n_2hop
    FROM pruned GROUP BY id
    """


@register("q_graph_2hop", oracle=None)  # installed below
def q_graph_2hop(spark, sf_dir):
    """Friends-of-friends: per node, the count of distinct nodes exactly
    two hops away (reachable via a neighbor, not self, not already a
    direct neighbor) — the recommendation-candidate volume. One
    self-equi-join on the symmetrized edge list + one anti-join against
    direct edges; fan-out is degree², the quantity q_degree_dist
    profiles first."""
    from incubator_flink_old_spark.queries.iterations import edges_df

    e = edges_df(spark, sf_dir).filter(F.col("src") != F.col("dst"))
    sym = (
        e.select(
            F.explode(
                F.array(
                    F.struct(F.col("src").alias("a"), F.col("dst").alias("b")),
                    F.struct(F.col("dst").alias("a"), F.col("src").alias("b")),
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .distinct()
    )
    two = (
        sym.alias("x")
        .join(sym.alias("y"), F.col("x.b") == F.col("y.a"))
        .filter(F.col("y.b") != F.col("x.a"))
        .select(F.col("x.a").alias("id"), F.col("y.b").alias("h2"))
        .distinct()
    )
    direct = sym.select(F.col("a").alias("id"), F.col("b").alias("h2"))
    return (
        two.join(direct, on=["id", "h2"], how="left_anti")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_2hop"))
    )


_install_graph_oracles()


@register(
    "q_bipartite_projection",
    oracle="""
    WITH ue AS (SELECT DISTINCT user_id, event_type FROM events)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM ue a JOIN ue b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY a.event_type, b.event_type
    """,
)
def q_bipartite_projection(spark, sf_dir):
    """Bipartite projection of the user–event-type graph onto event
    types: for every type pair, how many users engage with both — the
    co-engagement matrix behind market-basket and feature-affinity
    views. The distinct (user, type) frame is entity-keyed; the
    self-join fans out only |types|² per user (bounded, here ≤ 25)."""
    ev = t(spark, sf_dir, "events")
    ue = ev.select("user_id", "event_type").distinct()
    a = ue.select("user_id", F.col("event_type").alias("type_a"))
    b = ue.select("user_id", F.col("event_type").alias("type_b"))
    return (
        a.join(b, on="user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# --------------------------------------------------------------------------
# Product analytics
# --------------------------------------------------------------------------
@register(
    "q_time_to_event",
    oracle="""
    WITH f AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
        FROM events GROUP BY user_id)
    SELECT user_id, first_signup, first_purchase,
           epoch_us(first_purchase) - epoch_us(first_signup)
               AS micros_to_convert
    FROM f
    WHERE first_signup IS NOT NULL AND first_purchase IS NOT NULL
      AND first_purchase >= first_signup
    """,
)
def q_time_to_event(spark, sf_dir):
    """Time-to-conversion: per user, the interval from first signup to
    first purchase (users converting before any signup excluded) — the
    survival-analysis input. One combinable conditional-min aggregation
    per user; the interval is exact integer MICROSECOND arithmetic
    (second-floored epochs truncate each endpoint separately and can
    round the difference the wrong way — found at 50.36 s → 51)."""
    ev = t(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "first_signup"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    # unix_micros wants TIMESTAMP (not NTZ); the session is pinned UTC by
    # prep_session, so the NTZ→TZ cast is a fixed bijection.
    micros = F.unix_micros(
        F.col("first_purchase").cast("timestamp")
    ) - F.unix_micros(F.col("first_signup").cast("timestamp"))
    return (
        f.filter(
            F.col("first_signup").isNotNull()
            & F.col("first_purchase").isNotNull()
            & (F.col("first_purchase") >= F.col("first_signup"))
        )
        .select(
            "user_id",
            "first_signup",
            "first_purchase",
            micros.alias("micros_to_convert"),
        )
    )


@register(
    "q_rfm",
    oracle="""
    WITH p AS (
        SELECT user_id,
               MAX(ts) AS last_purchase,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS monetary
        FROM events WHERE event_type = 'purchase' GROUP BY user_id)
    SELECT user_id,
           NTILE(4) OVER (ORDER BY last_purchase, user_id) AS r_quartile,
           NTILE(4) OVER (ORDER BY frequency, user_id) AS f_quartile,
           NTILE(4) OVER (ORDER BY monetary, user_id) AS m_quartile
    FROM p
    """,
)
def q_rfm(spark, sf_dir):
    """RFM segmentation: per purchasing user, quartile ranks of recency
    (last purchase time), frequency and decimal-exact monetary value —
    the classic CRM cut. NTILE ties are pinned by user_id so the
    bucketing replays identically on any engine.

    Scale path (VERDICT r04 item 4): each quartile rides the
    distributed-rank pattern (``aggregates.global_row_number`` — range
    partition + per-partition row_number + broadcast offsets) instead of
    an empty-partitionBy NTILE window, so no |users|-sized total order
    ever funnels through one task. NTILE(k) is then pure arithmetic on
    the global rank: with n rows, q = n div k, r = n mod k, the first r
    buckets hold q+1 rows — identical to the SQL-standard NTILE the
    oracle runs. The three ranked passes join back on user_id
    (hash-shuffle on the aggregate, distributed)."""
    from incubator_flink_old_spark.operators.aggregates import global_row_number

    ev = t(spark, sf_dir, "events")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("last_purchase"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("value").cast("decimal(27,6)"))
            .cast("double")
            .alias("monetary"),
        )
        # One materialization feeds all three ranked passes (and the
        # row count) — tiny: one row per purchasing user.
        .localCheckpoint(eager=True)
    )
    n = p.count()
    q, r = divmod(n, 4)

    def ntile4(rn):
        # SQL-standard NTILE(4): first r buckets of size q+1, rest q.
        # Integer ceil-div keeps everything in longs (no float rounding);
        # q == 0 (n < 4) degenerates to bucket = rn via the first branch.
        head = F.lit(r * (q + 1))
        ceil_head = F.floor((rn + F.lit(q)).cast("long") / F.lit(q + 1))
        if q == 0:
            return rn.cast("int")
        ceil_tail = F.lit(r) + F.floor(
            (rn - head + F.lit(q - 1)).cast("long") / F.lit(q)
        )
        return (
            F.when(rn <= head, ceil_head).otherwise(ceil_tail).cast("int")
        )

    def quartile_of(order_col, alias):
        ranked = global_row_number(
            p, [F.col(order_col), F.col("user_id")], alias="__rn"
        )
        return ranked.select(
            "user_id", ntile4(F.col("__rn")).alias(alias)
        )

    return (
        quartile_of("last_purchase", "r_quartile")
        .join(quartile_of("frequency", "f_quartile"), "user_id")
        .join(quartile_of("monetary", "m_quartile"), "user_id")
        .select("user_id", "r_quartile", "f_quartile", "m_quartile")
    )


@register(
    "q_autocorr",
    oracle="""
    WITH h AS (
        SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS hr,
               CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS x
        FROM events GROUP BY 1, 2),
    l AS (
        SELECT event_type, x,
               LAG(x) OVER (PARTITION BY event_type ORDER BY hr) AS y
        FROM h),
    s AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x AS DECIMAL(38,6)) * CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(x AS DECIMAL(38,6)) * CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(y AS DECIMAL(38,6)) * CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS syy
        FROM l WHERE y IS NOT NULL GROUP BY event_type)
    SELECT event_type, n,
           ROUND((n * sxy - sx * sy)
                 / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)), 6)
               AS lag1_autocorr
    FROM s
    """,
)
def q_autocorr(spark, sf_dir):
    """Lag-1 autocorrelation of the hourly value series per event type —
    the burstiness/seasonality scalar behind anomaly baselines. The
    hourly series is decimal-exact (dsum contract); the correlation's
    moment sums are ALSO decimal-staged so every operand of the final
    float formula is bit-identical across engines. Precision is chosen
    so the product is LOSSLESS on both, which needs DIFFERENT widths:
    Spark multiplies (18,6)² → (37,12) under its 38-digit cap (a
    (38,12)² product would trip the precision-loss rule and round each
    product to 6dp), while DuckDB 1.0 executes an (18,6)² product in
    int64 physical and OVERFLOWS on real sums (~2e9 unscaled units) —
    its side casts to (38,6) so the multiply runs in int128. Both
    produce the exact rational, so the final doubles agree bitwise."""
    ev = t(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.window("ts", "1 hour").getField("start").alias("hr")
    ).agg(
        F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("x")
    )
    l = h.select(
        "event_type",
        "x",
        F.lag("x").over(
            Window.partitionBy("event_type").orderBy("hr")
        ).alias("y"),
    ).filter(F.col("y").isNotNull())
    dx = F.col("x").cast("decimal(18,6)")
    dy = F.col("y").cast("decimal(18,6)")
    s = l.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dx).cast("double").alias("sx"),
        F.sum(dy).cast("double").alias("sy"),
        F.sum(dx * dy).cast("double").alias("sxy"),
        F.sum(dx * dx).cast("double").alias("sxx"),
        F.sum(dy * dy).cast("double").alias("syy"),
    )
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select("event_type", "n", F.round(corr, 6).alias("lag1_autocorr"))


# --------------------------------------------------------------------------
# Distribution drift gate
# --------------------------------------------------------------------------
@register(
    "q_ks_drift",
    oracle=f"""
    WITH s AS ({_SPLIT_SQL}),
    d AS (
        SELECT doc.n_chars, s.split
        FROM documents doc JOIN s ON doc.doc_id = s.doc_id
        WHERE s.split IN ('train', 'test')),
    tot AS (
        SELECT
            SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS nt,
            SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS ns
        FROM d),
    g AS (
        SELECT n_chars,
               SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS ct,
               SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS cs
        FROM d GROUP BY n_chars),
    c AS (
        SELECT n_chars,
               SUM(ct) OVER (ORDER BY n_chars) AS cum_t,
               SUM(cs) OVER (ORDER BY n_chars) AS cum_s
        FROM g),
    diff AS (
        SELECT c.n_chars,
               ROUND(ABS(CAST(c.cum_t AS DOUBLE) / tot.nt
                         - CAST(c.cum_s AS DOUBLE) / tot.ns), 6) AS d
        FROM c, tot)
    SELECT d AS ks_stat, n_chars AS at_n_chars
    FROM diff
    ORDER BY d DESC, n_chars
    LIMIT 1
    """,
)
def q_ks_drift(spark, sf_dir):
    """Kolmogorov–Smirnov drift gate between the train and test splits'
    document-length distributions: max over the length grid of
    |CDF_train − CDF_test| (plus the length where it occurs) — the
    release check that a hash split didn't skew a covariate. Both
    cumulative sums ride ONE distributed prefix pass over the
    |distinct lengths|-sized histogram (aggregates.global_prefix_agg —
    range-partitioned, no unpartitioned window, never the corpus); the
    CDF ratios are exact integer/integer divisions, identical on any
    engine."""
    docs = t(spark, sf_dir, "documents")
    d = docs.select(
        "n_chars", _split_col("doc_id").alias("split")
    ).filter(F.col("split").isin("train", "test"))
    tot = d.agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias("nt"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0)).alias("ns"),
    )
    g = d.groupBy("n_chars").agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0)).alias("cs"),
    )
    from incubator_flink_old_spark.operators.aggregates import (
        global_prefix_agg,
    )

    c = global_prefix_agg(
        g,
        [F.col("n_chars")],
        {"cum_t": (F.col("ct"), "sum"), "cum_s": (F.col("cs"), "sum")},
    ).select("n_chars", "cum_t", "cum_s")
    diff = c.crossJoin(F.broadcast(tot)).select(
        "n_chars",
        F.round(
            F.abs(
                F.col("cum_t").cast("double") / F.col("nt")
                - F.col("cum_s").cast("double") / F.col("ns")
            ),
            6,
        ).alias("d"),
    )
    return (
        diff.orderBy(F.col("d").desc(), F.col("n_chars"))
        .limit(1)
        .select(F.col("d").alias("ks_stat"), F.col("n_chars").alias("at_n_chars"))
    )
