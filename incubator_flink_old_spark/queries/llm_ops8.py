"""Training-data pipeline queries, wave 19 (round 4): retrieval scoring
(BM25, bigram-LM), a count-min sketch with exact twin, streaming
batch-parity (the first driver-checkable Structured Streaming row),
event-log compaction/attribution/EWMA analytics, robust-statistics
outlier gates, graph profile histograms, and the train/test near-dup
leakage audit. Every query carries a full DuckDB twin — including the
streaming one, whose bounded replay must equal the batch SQL exactly.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from incubator_flink_old_spark.queries import register
from incubator_flink_old_spark.queries._util import (
    split_case_sql,
    split_col as _split_col,
    sql_dsum,
    t,
)

#: DuckDB twin of the md5-Bernoulli 80/10/10 split (q_dataset_split);
#: the split law itself lives ONCE in _util.split_case_sql/split_col.
_SPLIT_SQL = f"""
    SELECT doc_id, {split_case_sql()} AS split
    FROM documents
"""


# --------------------------------------------------------------------------
# Retrieval scoring
# --------------------------------------------------------------------------
@register(
    "q_bm25_topk",
    oracle=r"""
    WITH tk AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> x <> '')) AS w
        FROM documents),
    tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tk GROUP BY doc_id, w),
    dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
    sc AS (SELECT (SELECT COUNT(*) FROM documents) AS n,
                  CAST((SELECT COUNT(*) FROM tk) AS DOUBLE)
                      / (SELECT COUNT(*) FROM documents) AS avgdl),
    dft AS (SELECT w, COUNT(*) AS dft FROM tf
            WHERE w IN ('hash', 'join', 'scan') GROUP BY w),
    s AS (
        SELECT tf.doc_id, tf.w,
               LN((sc.n - dft.dft + 0.5) / (dft.dft + 0.5) + 1.0)
               * (tf.tf * 2.2
                  / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / sc.avgdl))) AS s
        FROM tf JOIN dl USING (doc_id) JOIN dft USING (w) CROSS JOIN sc),
    p AS (
        SELECT doc_id,
               SUM(CASE WHEN w = 'hash' THEN s END) AS s0,
               SUM(CASE WHEN w = 'join' THEN s END) AS s1,
               SUM(CASE WHEN w = 'scan' THEN s END) AS s2
        FROM s GROUP BY doc_id)
    SELECT doc_id,
           ROUND(0.0 + COALESCE(s0, 0.0) + COALESCE(s1, 0.0)
                     + COALESCE(s2, 0.0), 6) AS bm25
    FROM p
    ORDER BY bm25 DESC, doc_id
    LIMIT 20
    """,
)
def q_bm25_topk(spark, sf_dir):
    """BM25 ranked retrieval (operators/retrieval.bm25_topk): top-20
    documents for the query terms (hash, join, scan) under Lucene-form
    idf, k1=1.2, b=0.75. Per-document totals are assembled as one
    conditional sum PER TERM combined in fixed order (float addition is
    fold-order dependent); the top-k is a distributed TakeOrdered."""
    from incubator_flink_old_spark.operators.retrieval import bm25_topk

    return bm25_topk(
        t(spark, sf_dir, "documents"), terms=("hash", "join", "scan")
    )


@register(
    "q_bigram_lm",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           x -> x <> '') AS tka
        FROM documents),
    st AS (SELECT doc_id, tka FROM toks WHERE len(tka) >= 2),
    up AS (SELECT doc_id, unnest(list_zip(tka, tka[2:])) AS p FROM st),
    bg AS (SELECT doc_id, p[1] AS w1, p[2] AS w2 FROM up
           WHERE p[2] IS NOT NULL),
    uni AS (SELECT unnest(tka) AS w1 FROM toks),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM uni GROUP BY w1),
    c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2),
    v AS (SELECT COUNT(*) AS v FROM c1)
    SELECT bg.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(LN(CAST(c2.c2 + 1 AS DOUBLE) / (c1.c1 + v.v))), 6)
               AS lm_bigram_score
    FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
    GROUP BY bg.doc_id
    """,
)
def q_bigram_lm(spark, sf_dir):
    """Add-one-smoothed bigram-LM document scoring
    (operators/retrieval.bigram_lm_scores) — the deterministic
    perplexity-filter stand-in: corpus-trained c(w1,w2)/c(w1)/|V|,
    per-document mean bigram log-probability."""
    from incubator_flink_old_spark.operators.retrieval import bigram_lm_scores

    return bigram_lm_scores(t(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Count-min sketch (exact twin)
# --------------------------------------------------------------------------
@register(
    "q_count_min",
    oracle=r"""
    WITH tk AS (
        SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> x <> '')) AS w
        FROM documents),
    rows_ AS (SELECT unnest([0, 1, 2, 3]) AS r),
    buck AS (
        SELECT tk.w, rows_.r,
               CAST(('0x' || substr(md5(CAST(rows_.r AS VARCHAR) || '|' || tk.w),
                                    1, 15))::BIGINT % 256 AS INTEGER) AS b
        FROM tk CROSS JOIN rows_),
    cms AS (SELECT r, b, COUNT(*) AS cnt FROM buck GROUP BY r, b),
    exact AS (
        SELECT w, COUNT(*) AS exact_cnt FROM tk GROUP BY w
        ORDER BY exact_cnt DESC, w LIMIT 20),
    probes AS (
        SELECT e.w, e.exact_cnt, rows_.r,
               CAST(('0x' || substr(md5(CAST(rows_.r AS VARCHAR) || '|' || e.w),
                                    1, 15))::BIGINT % 256 AS INTEGER) AS b
        FROM exact e CROSS JOIN rows_)
    SELECT p.w, p.exact_cnt, MIN(c.cnt) AS cms_est
    FROM probes p JOIN cms c USING (r, b)
    GROUP BY p.w, p.exact_cnt
    """,
)
def q_count_min(spark, sf_dir):
    """Count-min sketch with exact twin
    (operators/sketches.count_min_estimates): a 4×256 mergeable counter
    sketch over the corpus token stream, point estimates (min over hash
    rows) reported next to exact counts for the 20 most frequent
    tokens. One-sided error: cms_est ≥ exact_cnt by construction."""
    from incubator_flink_old_spark.operators.sketches import count_min_estimates
    from incubator_flink_old_spark.operators.text import tokens

    tk = (
        t(spark, sf_dir, "documents")
        .select(F.explode(tokens("text")).alias("w"))
    )
    return count_min_estimates(tk, depth=4, width=256, top_n=20)


# --------------------------------------------------------------------------
# Streaming batch parity — the driver-checkable Structured Streaming row
# --------------------------------------------------------------------------


@register(
    "q_stream_window_parity",
    oracle=f"""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dsum('value')} AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q_stream_window_parity(spark, sf_dir):
    """Structured Streaming ⇄ batch parity (W1/W4 driver surface): the
    events fixture replayed file-at-a-time through readStream
    (streaming.read_events_stream), aggregated with the SAME tumbling
    1-hour window + per-type count/decimal-sum as the batch form, run
    to completion in complete mode into a memory sink, and returned as
    a plain DataFrame. Bounded replay of a deterministic aggregation
    must equal the batch SQL bit-for-bit — the exactly-once story the
    streaming operators claim, now hash-checked by the driver instead
    of only pytest. (The other streaming ops — stateful sessions,
    SpaceSaving, interval join — remain pytest-covered by contract:
    their outputs depend on trigger boundaries.)"""
    from incubator_flink_old_spark.queries._util import dsum
    from incubator_flink_old_spark.streaming import (
        read_events_stream,
        stream_result,
    )

    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "total_value"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return stream_result(agg, "complete")


# --------------------------------------------------------------------------
# Event-log analytics: compaction, attribution, EWMA
# --------------------------------------------------------------------------
@register(
    "q_cdc_latest",
    oracle="""
    WITH r AS (
        SELECT user_id, event_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events)
    SELECT user_id, event_id, event_type, value
    FROM r WHERE rn = 1 AND event_type <> 'error'
    """,
)
def q_cdc_latest(spark, sf_dir):
    """Latest-wins change-log compaction (the Delta/upsert MERGE
    semantics applied as a query): each user's newest event wins
    (ts desc, event_id desc tie-break); a terminal 'error' acts as a
    tombstone and drops the key. One entity-keyed window — at scale the
    log is bucketed by key, so compaction is shuffle-free."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .select("user_id", "event_id", "event_type", "value")
    )


@register(
    "q_attribution",
    oracle="""
    SELECT event_id, user_id,
           first_value(CASE WHEN event_type = 'click' THEN event_id END
                       IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS first_click,
           last_value(CASE WHEN event_type = 'click' THEN event_id END
                      IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS last_click
    FROM events
    QUALIFY event_type = 'purchase'
    """,
)
def q_attribution(spark, sf_dir):
    """First-/last-touch attribution: every purchase is credited to the
    user's first and most recent preceding click (NULL when none — the
    organic-purchase case). One entity-keyed running window, no joins;
    the marketing-analytics staple over event logs."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click = F.when(F.col("event_type") == "click", F.col("event_id"))
    return (
        ev.select(
            "event_id",
            "user_id",
            "event_type",
            F.first(click, ignorenulls=True).over(w).alias("first_click"),
            F.last(click, ignorenulls=True).over(w).alias("last_click"),
        )
        .filter(F.col("event_type") == "purchase")
        .drop("event_type")
    )


@register(
    "q_ewma",
    oracle="""
    WITH l AS (
        SELECT event_id, user_id, value,
               array_agg(value) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS BETWEEN 19 PRECEDING
                                               AND CURRENT ROW) AS arr
        FROM events)
    SELECT event_id, user_id, value,
           ROUND(list_reduce(arr,
                 (acc, x) -> 0.2::DOUBLE * x + 0.8::DOUBLE * acc), 6) AS ewma
    FROM l
    """,
)
def q_ewma(spark, sf_dir):
    """Exponentially weighted moving average per user (α = 0.2,
    s ← α·x + (1−α)·s seeded from the oldest in-frame value) over a
    bounded 20-row frame — the smoothing pass behind rate/latency
    monitoring. The fold runs oldest→newest with IDENTICAL IEEE double
    steps on both engines (Spark F.aggregate ≡ DuckDB list_reduce, both
    strict left folds), so results match before the 6dp display round.
    The 20-row frame bounds per-row state at any scale; entity
    bucketing makes the window shuffle-free at 100 TB."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, Window.currentRow)
    )
    l = F.collect_list("value").over(w)
    staged = ev.select("event_id", "user_id", "value", l.alias("arr"))
    fold = F.aggregate(
        F.slice(F.col("arr"), F.lit(2), F.size("arr") - 1),
        F.element_at("arr", 1),
        lambda acc, x: F.lit(0.2) * x + F.lit(0.8) * acc,
    )
    return staged.select(
        "event_id", "user_id", "value", F.round(fold, 6).alias("ewma")
    )


# --------------------------------------------------------------------------
# Robust statistics gates
# --------------------------------------------------------------------------
@register(
    "q_winsorize",
    oracle="""
    WITH b AS (
        SELECT event_type,
               percentile_cont(0.05) WITHIN GROUP (ORDER BY value) AS lo,
               percentile_cont(0.95) WITHIN GROUP (ORDER BY value) AS hi
        FROM events GROUP BY event_type)
    SELECT e.event_id, e.event_type, e.value,
           ROUND(LEAST(GREATEST(e.value, b.lo), b.hi), 6) AS clipped
    FROM events e JOIN b USING (event_type)
    """,
)
def q_winsorize(spark, sf_dir):
    """Per-group winsorization: clip values to the exact interpolated
    [p05, p95] of their event type — the outlier-taming step before
    mean-based features. Group percentiles are a tiny aggregate
    broadcast back onto the stream; the clip is map-side. Both engines
    use the same linear interpolation (q_agg_percentile contract)."""
    ev = t(spark, sf_dir, "events")
    b = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("lo"),
        F.percentile("value", F.lit(0.95)).alias("hi"),
    )
    clipped = F.round(
        F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")), 6
    )
    return (
        ev.join(F.broadcast(b), on="event_type")
        .select("event_id", "event_type", "value", clipped.alias("clipped"))
    )


@register(
    "q_mad_outliers",
    oracle="""
    WITH m AS (
        SELECT event_type,
               percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS med
        FROM events GROUP BY event_type),
    d AS (
        SELECT e.event_id, e.event_type, e.value,
               ABS(e.value - m.med) AS adev
        FROM events e JOIN m USING (event_type)),
    s AS (
        SELECT event_type,
               percentile_cont(0.5) WITHIN GROUP (ORDER BY adev) AS mad
        FROM d GROUP BY event_type)
    SELECT d.event_id, d.event_type, d.value,
           ROUND(d.adev, 6) AS adev, ROUND(s.mad, 6) AS mad,
           ROUND(d.adev, 6) > ROUND(3 * s.mad, 6) AS is_outlier
    FROM d JOIN s USING (event_type)
    """,
)
def q_mad_outliers(spark, sf_dir):
    """Median-absolute-deviation outlier flags per event type — the
    robust z-score (median/MAD resist the very outliers mean/stddev
    absorb). Two tiny grouped exact-percentile aggregates broadcast
    back; the flag compares 6dp-rounded magnitudes on BOTH sides so the
    decision boundary replays identically on any engine."""
    ev = t(spark, sf_dir, "events")
    m = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    d = ev.join(F.broadcast(m), on="event_type").select(
        "event_id",
        "event_type",
        "value",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    s = d.groupBy("event_type").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    flag = F.round(F.col("adev"), 6) > F.round(3 * F.col("mad"), 6)
    return d.join(F.broadcast(s), on="event_type").select(
        "event_id",
        "event_type",
        "value",
        F.round("adev", 6).alias("adev"),
        F.round("mad", 6).alias("mad"),
        flag.alias("is_outlier"),
    )


# --------------------------------------------------------------------------
# Graph profile histograms
# --------------------------------------------------------------------------
@register(
    "q_degree_dist",
    oracle=None,  # set below (needs EDGES_SQL at import time)
)
def q_degree_dist(spark, sf_dir):
    """Degree distribution of the undirected t2 graph: distinct-neighbor
    degree per node (self-loops excluded), then the degree→node-count
    histogram — the first profiling pass over any production graph. Two
    combinable aggregations over a per-edge explode; the histogram is
    |distinct degrees|-sized."""
    from incubator_flink_old_spark.queries.iterations import edges_df

    e = edges_df(spark, sf_dir).filter(F.col("src") != F.col("dst"))
    sym = e.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("id"), F.col("dst").alias("nb")),
                F.struct(F.col("dst").alias("id"), F.col("src").alias("nb")),
            )
        ).alias("p")
    ).select("p.id", "p.nb").distinct()
    deg = sym.groupBy("id").agg(F.count(F.lit(1)).alias("deg"))
    return deg.groupBy("deg").agg(F.count(F.lit(1)).alias("n_nodes"))


@register(
    "q_cc_sizes",
    oracle=None,  # set below
)
def q_cc_sizes(spark, sf_dir):
    """Connected-component size histogram: the G2 delta-iteration
    components (same graph/oracle family as q_iterate_cc) aggregated to
    component sizes, then size→component-count — the dedup-health view
    (`how big do my duplicate clusters get?`) at graph scale."""
    from incubator_flink_old_spark.operators.graph import connected_components
    from incubator_flink_old_spark.queries.iterations import edges_df

    comp = connected_components(edges_df(spark, sf_dir), max_iterations=50)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("size"))
    return sizes.groupBy("size").agg(F.count(F.lit(1)).alias("n_components"))


def _install_graph_oracles():
    from incubator_flink_old_spark.queries import ORACLES
    from incubator_flink_old_spark.queries.iterations import EDGES_SQL

    ORACLES["q_degree_dist"] = f"""
    WITH edges AS ({EDGES_SQL}),
    sym AS (
        SELECT src, dst FROM edges WHERE src <> dst
        UNION
        SELECT dst AS src, src AS dst FROM edges WHERE src <> dst
    ),
    deg AS (SELECT src AS id, COUNT(*) AS deg FROM sym GROUP BY src)
    SELECT deg, COUNT(*) AS n_nodes FROM deg GROUP BY deg
    """
    ORACLES["q_cc_sizes"] = f"""
    WITH RECURSIVE edges AS ({EDGES_SQL}),
    sym AS (
        SELECT src, dst FROM edges WHERE src <> dst
        UNION
        SELECT dst AS src, src AS dst FROM edges WHERE src <> dst
    ),
    reach(id, lbl) AS (
        SELECT src AS id, src AS lbl FROM sym
        UNION
        SELECT s.dst AS id, r.lbl
        FROM reach r JOIN sym s ON r.id = s.src
    ),
    comp AS (SELECT id, MIN(lbl) AS component FROM reach GROUP BY id),
    sz AS (SELECT component, COUNT(*) AS size FROM comp GROUP BY component)
    SELECT size, COUNT(*) AS n_components FROM sz GROUP BY size
    """


_install_graph_oracles()


# --------------------------------------------------------------------------
# Train/test near-dup leakage audit
# --------------------------------------------------------------------------
def _leakage_oracle():
    from incubator_flink_old_spark.queries.llm_ops import _minhash_oracle

    return f"""
    WITH s AS ({_SPLIT_SQL})
    SELECT sa.split AS split_a, sb.split AS split_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM ({_minhash_oracle(band_size=4)}) p
    JOIN s sa ON p.doc_a = sa.doc_id
    JOIN s sb ON p.doc_b = sb.doc_id
    GROUP BY sa.split, sb.split
    """


@register("q_split_leakage", oracle=_leakage_oracle())
def q_split_leakage(spark, sf_dir):
    """Train/test contamination audit: the MinHash-LSH near-dup pair
    list (the q_dedup_minhash pipeline, jaccard ≥ 0.7) crossed with the
    md5-Bernoulli dataset split — counting duplicate pairs per
    (split_a, split_b) cell. Off-diagonal (train, test) mass is
    evaluation leakage; the audit every release gate needs. The pair
    pipeline is the expensive stage and shuffles once; splits are a
    map-side property of the key (q_dataset_split contract)."""
    from incubator_flink_old_spark.operators.text import minhash_lsh_pairs

    docs = t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, band_size=4).select("doc_a", "doc_b")
    splits = docs.select(
        F.col("doc_id"), _split_col("doc_id").alias("split")
    )
    return (
        pairs.join(
            F.broadcast(splits.select(F.col("doc_id").alias("doc_a"),
                                      F.col("split").alias("split_a"))),
            on="doc_a",
        )
        .join(
            F.broadcast(splits.select(F.col("doc_id").alias("doc_b"),
                                      F.col("split").alias("split_b"))),
            on="doc_b",
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
