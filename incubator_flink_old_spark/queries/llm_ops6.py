"""Training-data pipeline queries, wave 9: sketch-accelerated exact
operators (Bloom-prefiltered decontamination, threshold heavy hitters),
quality-weighted sampling, and product-quantization ANN.

The sketch queries follow the sketches-module law — the sketch only
prunes, an exact pass decides — so their oracles are the PLAIN exact
formulations: any false negative introduced by the sketch path would
hash-mismatch immediately.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from incubator_flink_old_spark.operators.sketches import (
    decontaminate_bloom,
    heavy_hitters,
)
from incubator_flink_old_spark.operators.text import exploded_ngrams, tokens
from incubator_flink_old_spark.queries import register
from incubator_flink_old_spark.queries._util import t

#: DuckDB twin of operators.text.tokens() (non-distinct form)
_SQL_TKA = r"""
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tka
    FROM documents
"""


@register(
    "q_heavy_hitters",
    oracle=rf"""
    WITH toks AS ({_SQL_TKA}),
    g AS (
        SELECT array_to_string(list_slice(tka, i, i + 1), ' ') AS gram
        FROM toks, unnest(generate_series(1, len(tka) - 1)) u(i)
        WHERE len(tka) >= 2)
    SELECT gram, COUNT(*) AS cnt
    FROM g GROUP BY gram HAVING COUNT(*) >= 30
    """,
)
def q_heavy_hitters(spark, sf_dir):
    """Exact threshold heavy hitters (operators/sketches.heavy_hitters):
    every token bigram occurring ≥ 30 times corpus-wide, with its exact
    count. The scale story is the candidate-only shuffle: per-partition
    Counters prune at ceil(T/P) (pigeonhole ⇒ zero false negatives under
    any partitioning), so the full-vocabulary shuffle a plain
    groupBy+HAVING pays — the bottleneck when distinct grams ≈ corpus
    size — never happens; only candidates are recounted exactly. The
    oracle IS the plain groupBy+HAVING."""
    docs = t(spark, sf_dir, "documents")
    grams = exploded_ngrams(
        docs.select(tokens("text").alias("__tka")),
        2,
        carry=(),
        hashed=False,
        out="gram",
    )
    return heavy_hitters(grams, threshold=30)


@register(
    "q_bloom_decontaminate",
    oracle=rf"""
    WITH toks AS ({_SQL_TKA}),
    bg AS (
        SELECT DISTINCT array_to_string(list_slice(tka, i, i + 7), ' ') AS g
        FROM toks, unnest(generate_series(1, len(tka) - 7)) u(i)
        WHERE doc_id % 97 = 0 AND len(tka) >= 8),
    dg AS (
        SELECT DISTINCT doc_id, array_to_string(list_slice(tka, i, i + 7), ' ') AS g
        FROM toks, unnest(generate_series(1, len(tka) - 7)) u(i)
        WHERE len(tka) >= 8),
    h AS (
        SELECT doc_id, COUNT(*) AS h
        FROM dg WHERE g IN (SELECT g FROM bg)
        GROUP BY doc_id)
    SELECT d.doc_id,
           COALESCE(h.h, 0) AS n_hits,
           COALESCE(h.h, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id
    """,
)
def q_bloom_decontaminate(spark, sf_dir):
    """Bloom-prefiltered decontamination
    (operators/sketches.decontaminate_bloom): output identical to
    q_decontaminate — the oracle is the same plain 8-gram membership SQL
    — but the benchmark gram set broadcasts as a fixed-size bit array
    (~10 bits/gram vs 8 bytes/gram) and corpus grams failing the Bloom
    test die map-side before any join. Bloom negatives are definitive
    and false positives are removed by the exact verify join, so the
    sketch changes the plan, never the answer."""
    docs = t(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") % 97 == 0)
    return decontaminate_bloom(docs, benchmark, n=8)


@register(
    "q_sample_weighted",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_distinct(list_filter(
                   string_split_regex(lower(text), '\s+'), x -> x <> ''
               )) AS tk,
               list_filter(string_split_regex(lower(text), '\s+'),
                           x -> x <> '') AS tka
        FROM documents),
    qual AS (
        SELECT d.doc_id,
               0.5 * (CAST(len(list_filter(t.tka,
                   x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
                   / len(t.tka))
                 + 0.3 * (1.0 - (1.0 - CAST(len(t.tk) AS DOUBLE) / len(t.tka)))
                 + 0.2 * CAST(LENGTH(d.text) BETWEEN 100 AND 20000 AS DOUBLE)
                   AS quality
        FROM documents d JOIN toks t USING (doc_id))
    SELECT doc_id, ROUND(quality, 6) AS quality
    FROM qual
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
              % 1000000 < CAST(quality * 1000000 AS BIGINT)
    """,
)
def q_sample_weighted(spark, sf_dir):
    """Quality-weighted sampling (importance sampling for curation):
    keep each document with probability equal to its quality score,
    decided by the engine's portable md5-Bernoulli — deterministic
    across engines, runs and partitionings, unlike rand(). Map-only
    (the quality score and the hash are both Column expressions over
    the row itself), so the sample never shuffles at any scale."""
    from incubator_flink_old_spark.operators.text import quality_score

    denom = 1_000_000
    q = quality_score(t(spark, sf_dir, "documents")).select("doc_id", "quality")
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("long") % denom
    return q.filter(
        bucket < (F.col("quality") * denom).cast("long")
    ).select("doc_id", F.round("quality", 6).alias("quality"))


@register(
    "q_sim_pq_topk",
    oracle="""
    SELECT vec_id AS q_id, true AS self_top1, true AS recall_ok
    FROM embeddings WHERE vec_id < 10
    """,
)
def q_sim_pq_topk(spark, sf_dir):
    """Product-quantization ANN (operators/similarity.pq_topk) under a
    deterministic CONTRACT the oracle hash-checks: for each of 10 query
    vectors, (a) ADC ranks the query's own vector top-1 and (b) ADC
    top-5 overlaps exact brute-force top-5. Contract calibration: this
    fixture's embeddings carry no neighbor structure beyond identity —
    the second-best ADC distance is ≥ 2.24× the self distance (measured
    at sf0.001, sf0.01 AND sf0.1), so (a) holds with a >2× margin and
    is partition-stable, while any fixed overlap bar above "self is
    found by both" would be grading coin flips among near-ties. The
    approximation itself is deterministic (integer-grid codebooks from
    lowest-key seeds, exact-integer ADC, tie-broken rankings).
    Scale story: the corpus is scanned as m=8 4-bit codes per vector
    (64× smaller than raw float32), queries broadcast their distance
    tables, and a score is m array lookups — the memory-bound ANN path,
    composing with the IVF cell layout (probe cells, ADC within)."""
    from pyspark.sql import Window

    from incubator_flink_old_spark.operators.similarity import (
        brute_force_topk,
        pq_topk,
    )

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    pq = pq_topk(queries, emb, k=5, m=8, n_centroids=16, kmeans_iters=3)
    brute = brute_force_topk(queries, emb, k=5)
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("vec_id"))
    top1 = (
        pq.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("q_id", (F.col("vec_id") == F.col("q_id")).alias("self_top1"))
    )
    overlap = (
        pq.select("q_id", "vec_id")
        .join(brute.select("q_id", "vec_id"), on=["q_id", "vec_id"])
        .groupBy("q_id")
        .agg((F.count(F.lit(1)) >= 1).alias("recall_ok"))
    )
    return top1.join(overlap, on="q_id").select("q_id", "self_top1", "recall_ok")


@register(
    "q_temperature_mixture",
    oracle="""
    WITH n AS (
        SELECT lang, COUNT(*) AS n,
               CAST(POWER(COUNT(*), 0.5) AS DECIMAL(27,9)) AS pn
        FROM documents WHERE lang IS NOT NULL
        GROUP BY lang),
    s AS (SELECT CAST(SUM(pn) AS DOUBLE) AS s FROM n),
    p AS (SELECT lang, n, CAST(pn AS DOUBLE) / s.s AS p FROM n, s),
    t AS (SELECT MIN(n / p) AS t FROM p),
    fr AS (SELECT lang, p.p * t.t / n AS frac FROM p, t)
    SELECT d.doc_id, d.lang
    FROM documents d JOIN fr ON d.lang = fr.lang
    WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
              % 1000000
          < CAST(fr.frac * 1000000 AS BIGINT)
    """,
)
def q_temperature_mixture(spark, sf_dir):
    """Temperature-flattened language mixture (the multilingual-corpus
    rebalancing move): sampling shares p_l ∝ n_l^α with α = 0.5 boost
    low-resource languages relative to raw frequency; the largest
    feasible total WITHOUT upsampling is T = min(n_l / p_l), and each
    language downsamples at p_l·T/n_l via the engine's deterministic
    md5-Bernoulli. The n_l^α terms are DECIMAL-staged before the sum so
    the normalizer is partition-order-independent (the q_embed_outliers
    rule); everything after is plain IEEE double arithmetic, identical
    in both engines. Per-language fractions ride a broadcast dim — the
    corpus never shuffles."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang").filter(
        F.col("lang").isNotNull()
    )
    n = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).select(
        "lang", "n", F.pow("n", F.lit(0.5)).cast("decimal(27,9)").alias("pn")
    )
    s = n.agg(F.sum("pn").cast("double").alias("s"))
    p = n.crossJoin(F.broadcast(s)).select(
        "lang", "n", (F.col("pn").cast("double") / F.col("s")).alias("p")
    )
    tt = p.agg(F.min(F.col("n") / F.col("p")).alias("t"))
    fr = p.crossJoin(F.broadcast(tt)).select(
        "lang", (F.col("p") * F.col("t") / F.col("n")).alias("frac")
    )
    keep = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % 1_000_000
    ) < (F.col("frac") * 1_000_000).cast("long")
    return docs.join(F.broadcast(fr), on="lang").filter(keep).select(
        "doc_id", "lang"
    )


@register(
    "q_sim_ivfpq_topk",
    oracle="""
    SELECT vec_id AS q_id, true AS self_top1, true AS found_in_probe
    FROM embeddings WHERE vec_id < 10
    """,
)
def q_sim_ivfpq_topk(spark, sf_dir):
    """IVF+PQ composed ANN (operators/similarity.ivf_pq_topk) — the
    billion-scale layout: IVF probes prune WHICH vectors score
    (n_probe/n_cells of the corpus, an equi-join on cell that becomes a
    partition-pruned scan under a by-cell layout), PQ/ADC compresses HOW
    (m code lookups vs a d-dim float read). Contract (same calibration
    rationale as q_sim_pq_topk): each of 10 corpus queries probes its
    own cell by construction and ADC ranks its own vector top-1 (its
    own codes are its nearest, so no other vector's ADC distance is
    smaller);
    found_in_probe asserts the probe prune did not lose the true
    nearest neighbor (= self)."""
    from pyspark.sql import Window

    from incubator_flink_old_spark.operators.similarity import ivf_pq_topk

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    res = ivf_pq_topk(
        queries, emb, k=5, n_cells=8, n_probe=4, m=8, n_centroids=16,
        kmeans_iters=3,
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("vec_id"))
    top1 = (
        res.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("q_id", (F.col("vec_id") == F.col("q_id")).alias("self_top1"))
    )
    found = res.groupBy("q_id").agg(
        F.max(F.col("vec_id") == F.col("q_id")).alias("found_in_probe")
    )
    return top1.join(found, on="q_id").select(
        "q_id", "self_top1", "found_in_probe"
    )


@register(
    "q_distinctive_terms",
    oracle=r"""
    WITH tk AS (
        SELECT source,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> x <> '')) AS w
        FROM documents),
    st AS (SELECT source, w, COUNT(*) AS c FROM tk GROUP BY source, w),
    wt AS (SELECT source, w, c,
                  SUM(c) OVER (PARTITION BY source) AS n_s,
                  SUM(c) OVER (PARTITION BY w) AS c_t,
                  SUM(c) OVER () AS n
           FROM st),
    lifted AS (
        SELECT source, w AS term,
               ROUND((CAST(c AS DOUBLE) / n_s) / (CAST(c_t AS DOUBLE) / n), 6)
                   AS lift,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY (CAST(c AS DOUBLE) / n_s) / (CAST(c_t AS DOUBLE) / n)
                            DESC, w
               ) AS rk
        FROM wt)
    SELECT source, term, lift FROM lifted WHERE rk <= 5
    """,
)
def q_distinctive_terms(spark, sf_dir):
    """Per-source distinctive vocabulary (the data-card enrichment that
    characterizes WHAT each domain contributes): lift = P(term|source) /
    P(term), top-5 per source, ties broken by term. One token explode →
    one (source, term) count aggregation; source totals, term totals and
    the grand total all derive from that SAME aggregated frame via
    windows (its size is sources × vocabulary, not corpus tokens), so
    the corpus is scanned and shuffled exactly once at any scale."""
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(tokens("text")).alias("w")
    )
    st = toks.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    wt = st.select(
        "source",
        "w",
        "c",
        F.sum("c").over(Window.partitionBy("source")).alias("n_s"),
        F.sum("c").over(Window.partitionBy("w")).alias("c_t"),
        F.sum("c").over(
            Window.partitionBy()
        ).alias("n"),
    )
    lift = (F.col("c").cast("double") / F.col("n_s")) / (
        F.col("c_t").cast("double") / F.col("n")
    )
    ranked = wt.select(
        "source",
        F.col("w").alias("term"),
        F.round(lift, 6).alias("lift"),
        F.row_number()
        .over(Window.partitionBy("source").orderBy(lift.desc(), "w"))
        .alias("rk"),
    )
    return ranked.filter(F.col("rk") <= 5).select("source", "term", "lift")
