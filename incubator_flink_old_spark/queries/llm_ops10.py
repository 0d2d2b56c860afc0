"""Training-data pipeline queries, wave 21 (round 4, overflow window):
two more Structured-Streaming batch-parity rows — session windows and a
stream-stream interval join — plus corpus entropy profiling. Registered
at round-4 close; the rotation auto-fronts them, so whatever the r04
window cannot hold rolls to r05 as pure overflow (COVERAGE.md).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from incubator_flink_old_spark.queries import register
from incubator_flink_old_spark.queries._util import sql_dsum, t


def _stream_session_oracle() -> str:
    from incubator_flink_old_spark.queries.windows import sessions_cte_sql

    return f"""
    {sessions_cte_sql("5 minutes")}
    SELECT MIN(ts) AS win_start,
           user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dsum('value')} AS total_value
    FROM sessions
    GROUP BY user_id, session_id
    """


@register("q_stream_session_parity", oracle=_stream_session_oracle())
def q_stream_session_parity(spark, sf_dir):
    """Structured Streaming SESSION windows ⇄ batch parity (W3/W4): the
    events replayed through readStream, sessionized with Spark's
    session_window (5-minute gap) per user, complete mode to a memory
    sink — hash-equal to the gaps-and-islands SQL twin (the
    reference-era batch sessionization). Complements
    q_stream_window_parity: tumbling windows are static buckets;
    session windows are STATEFUL (merge as events arrive), so this row
    certifies the merging-window state machine replays to the batch
    answer."""
    from incubator_flink_old_spark.queries._util import dsum
    from incubator_flink_old_spark.streaming import (
        read_events_stream,
        stream_result,
    )

    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.groupBy(F.session_window("ts", "5 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "total_value"),
        )
        .select(
            F.col("session_window.start").alias("win_start"),
            "user_id",
            "n_events",
            "total_value",
        )
    )
    return stream_result(agg, "complete")


@register(
    "q_stream_interval_join_parity",
    oracle="""
    SELECT l.user_id, l.event_id AS click_id, r.event_id AS purchase_id
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND l.event_type = 'click' AND r.event_type = 'purchase'
     AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL '10 minutes'
    """,
)
def q_stream_interval_join_parity(spark, sf_dir):
    """Stream-stream interval join ⇄ batch parity (the W-family's
    two-stream surface): clicks joined to same-user purchases within
    [click, click + 10 min], both sides watermarked so join state
    expires past watermark + bound — the only state-bounded way to
    join two streams. Inner time-bound matches emit eagerly as both
    sides arrive, so a bounded replay emits exactly the batch join.
    Append mode, memory sink, hash-checked against the plain SQL
    twin."""
    from incubator_flink_old_spark.streaming import (
        interval_join,
        read_events_stream,
        stream_result,
        with_watermark,
    )

    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("ts").alias("l_ts"),
            F.col("event_id").alias("click_id"),
        )
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("ts").alias("r_ts"),
            F.col("event_id").alias("purchase_id"),
        )
    )
    l = with_watermark(clicks, "l_ts", "10 minutes")
    r = with_watermark(purchases, "r_ts", "10 minutes")
    # the interval-join law lives ONCE in streaming.interval_join (its
    # pytest parity suite and this driver row share the same condition)
    j = interval_join(l, r, "user_id", upper="10 minutes").select(
        l["user_id"], "click_id", "purchase_id"
    )
    return stream_result(j, "append")


@register(
    "q_entropy_by_source",
    oracle=r"""
    WITH tk AS (
        SELECT source,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> x <> '')) AS w
        FROM documents),
    c AS (SELECT source, w, COUNT(*) AS c FROM tk GROUP BY source, w),
    tot AS (SELECT source, SUM(c) AS n FROM c GROUP BY source)
    SELECT c.source,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(MAX(tot.n) AS BIGINT) AS n_tokens,
           ROUND(-SUM((CAST(c.c AS DOUBLE) / tot.n)
                      * LN(CAST(c.c AS DOUBLE) / tot.n)), 6) AS entropy
    FROM c JOIN tot USING (source)
    GROUP BY c.source
    """,
)
def q_entropy_by_source(spark, sf_dir):
    """Token Shannon entropy per source subcorpus (plus vocabulary and
    token counts) — the diversity scalar data cards report: low entropy
    flags templated/duplicated subcorpora before they skew a training
    mix. One token explode into a (source, token) count table; entropy
    folds over the vocabulary-sized counts (−Σ p·ln p, rounded 6dp —
    the q_lm_score float-fold contract)."""
    from incubator_flink_old_spark.operators.text import tokens

    docs = t(spark, sf_dir, "documents")
    tk = docs.select("source", F.explode(tokens("text")).alias("w"))
    c = tk.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    tot = c.groupBy("source").agg(F.sum("c").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    return (
        c.join(F.broadcast(tot), on="source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("vocab"),
            F.max("n").alias("n_tokens"),
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy"),
        )
    )


@register(
    "q_embed_cov_profile",
    oracle="""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(FLOOR(x * 1000000.0) AS BIGINT)) AS k
        FROM embeddings),
    n AS (SELECT COUNT(*) AS n FROM e),
    s AS (
        SELECT r.j, SUM(e.k[r.j]) AS s
        FROM e, range(1, 65) r(j)
        GROUP BY r.j),
    c AS (
        SELECT e.vec_id, r.j, n.n * e.k[r.j] - s.s AS c
        FROM e, range(1, 65) r(j)
        JOIN s ON s.j = r.j CROSS JOIN n)
    SELECT CAST(a.j - 1 AS INTEGER) AS i,
           CAST(b.j - 1 AS INTEGER) AS j,
           ROUND(CAST(SUM(CAST(a.c AS DECIMAL(19,0))
                          * CAST(b.c AS DECIMAL(19,0))) AS DOUBLE)
                 / (CAST(MAX(n.n) AS DOUBLE) * MAX(n.n) * MAX(n.n) * 1e12),
                 6) + 0.0 AS cov
    FROM c a JOIN c b USING (vec_id) CROSS JOIN n
    WHERE a.j <= b.j
    GROUP BY a.j, b.j
    """,
)
def q_embed_cov_profile(spark, sf_dir):
    """Embedding covariance profile: the upper triangle of the d×d
    dimension covariance (operators/similarity.embedding_covariance) —
    the feature-correlation audit of an embedding space (anisotropy,
    dead dimensions, redundant pairs) and the exact matrix the PCA
    operator (pca_top_component) power-iterates. Integer-grid exact
    (floor-quantized micro-units, division-free centering, DECIMAL
    products; round() never touches a full-mantissa double — it
    disagrees across engines at half-way boundaries), so the
    4,096-entry matrix hash-matches across engines; shuffle volume is
    d² per partition regardless of corpus size."""
    from incubator_flink_old_spark.operators.similarity import (
        embedding_covariance,
    )

    cov = embedding_covariance(t(spark, sf_dir, "embeddings"))
    # `+ 0.0` on BOTH sides flushes IEEE signed zero: a tiny negative
    # covariance rounds to −0.0 in DuckDB but +0.0 through Spark's
    # BigDecimal round, and the driver hashes their reprs differently
    # (found at sf0.01, entry (5,9)).
    return cov.filter(F.col("i") <= F.col("j")).select(
        "i", "j", (F.round("cov", 6) + F.lit(0.0)).alias("cov")
    )
