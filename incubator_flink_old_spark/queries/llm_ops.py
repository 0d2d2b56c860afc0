"""Training-data pipeline t2 queries (north-star W7): text analysis,
deduplication (exact / MinHash+LSH / SimHash / n-gram jaccard),
embedding similarity search, multimodal plumbing.

Every deterministic operator carries a full DuckDB twin — including the
MinHash-LSH banding pipeline and the 16-bit SimHash (generated SQL). The
multimodal pipeline is rows-only (python-side hashing stub).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from incubator_flink_old_spark.operators.multimodal import attach_media, extract_features
from incubator_flink_old_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    lsh_near_pairs,
)
from incubator_flink_old_spark.operators.text import (
    exact_dedup,
    fingerprint,
    language_id,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    quality_score,
    simhash16,
    simhash_pairs,
    text_stats,
)
from incubator_flink_old_spark.queries import register
from incubator_flink_old_spark.queries._util import t

#: DuckDB twin of operators.text.tokens(distinct=True)
SQL_TOKS = r"""
    SELECT doc_id,
           list_distinct(list_filter(
               string_split_regex(lower(text), '\s+'), x -> x <> ''
           )) AS tk,
           list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tka
    FROM documents
"""


@register(
    "q_text_stats",
    oracle=rf"""
    WITH toks AS ({SQL_TOKS})
    SELECT d.doc_id,
           CAST(LENGTH(d.text) AS BIGINT) AS n_chars,
           CAST(len(t.tka) AS BIGINT) AS n_tokens,
           CAST(len(t.tk) AS BIGINT) AS n_distinct_tokens,
           CAST(list_sum(list_transform(t.tka, x -> LENGTH(x))) AS DOUBLE)
               / len(t.tka) AS mean_token_len,
           CAST(len(t.tk) AS DOUBLE) / len(t.tka) AS type_token_ratio
    FROM documents d JOIN toks t USING (doc_id)
    """,
)
def q_text_stats(spark, sf_dir):
    """Per-document structural stats (chars/tokens/distincts/TTR)."""
    return text_stats(t(spark, sf_dir, "documents"))


@register(
    "q_text_quality",
    oracle=rf"""
    WITH toks AS ({SQL_TOKS}),
    base AS (
        SELECT d.doc_id,
               CAST(len(list_filter(t.tka,
                   x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
                   / len(t.tka) AS stopword_ratio,
               1.0 - CAST(len(t.tk) AS DOUBLE) / len(t.tka) AS repetition,
               LENGTH(d.text) BETWEEN 100 AND 20000 AS len_ok
        FROM documents d JOIN toks t USING (doc_id)
    )
    SELECT doc_id, stopword_ratio, repetition, len_ok,
           0.5 * stopword_ratio + 0.3 * (1.0 - repetition)
             + 0.2 * CAST(len_ok AS DOUBLE) AS quality,
           (0.5 * stopword_ratio + 0.3 * (1.0 - repetition)
             + 0.2 * CAST(len_ok AS DOUBLE)) >= 0.4 AS keep
    FROM base
    """,
)
def q_text_quality(spark, sf_dir):
    """Heuristic quality scoring: stopword ratio, repetition, length."""
    return quality_score(t(spark, sf_dir, "documents"))


@register(
    "q_text_lang_id",
    oracle=rf"""
    WITH toks AS ({SQL_TOKS}),
    s AS (
        SELECT doc_id,
               CAST(len(list_filter(tka, x -> x IN ('the','a','of','and','to'))) AS INT) AS s_en,
               CAST(len(list_filter(tka, x -> x IN ('der','die','das','und','ein'))) AS INT) AS s_de,
               CAST(len(list_filter(tka, x -> x IN ('le','la','les','et','un'))) AS INT) AS s_fr,
               CAST(len(list_filter(tka, x -> x IN ('el','la','los','y','una'))) AS INT) AS s_es
        FROM toks
    )
    SELECT doc_id, s_en, s_de, s_fr, s_es,
           CASE WHEN GREATEST(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
                WHEN s_en = GREATEST(s_en, s_de, s_fr, s_es) THEN 'en'
                WHEN s_de = GREATEST(s_en, s_de, s_fr, s_es) THEN 'de'
                WHEN s_fr = GREATEST(s_en, s_de, s_fr, s_es) THEN 'fr'
                ELSE 'es' END AS lang_pred
    FROM s
    """,
)
def q_text_lang_id(spark, sf_dir):
    """Marker-stopword language scorer with deterministic argmax."""
    return language_id(t(spark, sf_dir, "documents"))


@register(
    "q_text_fingerprint",
    oracle=r"""
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
           substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 16)
               AS fp_prefix
    FROM documents
    """,
)
def q_text_fingerprint(spark, sf_dir):
    """md5 fingerprint over normalized text (the exact-dedup key)."""
    return fingerprint(t(spark, sf_dir, "documents"))


@register(
    "q_text_dedup",
    oracle=r"""
    SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
           MIN(doc_id) AS canonical_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def q_text_dedup(spark, sf_dir):
    """Exact dedup: hash-groupBy on the fingerprint, min-key canonical."""
    return exact_dedup(t(spark, sf_dir, "documents"))


def _minhash_oracle(num_hashes: int = 8, band_size: int = 2, threshold: float = 0.7) -> str:
    mh_exprs = ",\n               ".join(
        f"list_aggregate(list_transform(tk, x -> md5('{j}|' || x)), 'min') AS mh{j}"
        for j in range(num_hashes)
    )
    n_bands = num_hashes // band_size
    band_selects = "\n        UNION ALL\n        ".join(
        "SELECT doc_id, {b} AS band, md5({expr}) AS bucket FROM sigs".format(
            b=b,
            expr=" || '|' || ".join(f"mh{b * band_size + r}" for r in range(band_size)),
        )
        for b in range(n_bands)
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
    )
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(ta.tk, tb.tk)) AS DOUBLE)
             / len(list_distinct(list_concat(ta.tk, tb.tk))) AS jaccard
    FROM cands c
    JOIN toks ta ON c.doc_a = ta.doc_id
    JOIN toks tb ON c.doc_b = tb.doc_id
    WHERE CAST(len(list_intersect(ta.tk, tb.tk)) AS DOUBLE)
             / len(list_distinct(list_concat(ta.tk, tb.tk))) >= {threshold}
    """


@register("q_dedup_minhash", oracle=_minhash_oracle(band_size=4))
def q_dedup_minhash(spark, sf_dir):
    """Near-dup pairs: MinHash signatures → LSH band buckets → equi-join
    candidates → exact jaccard ≥ 0.7 verify. O(candidates), no crossJoin;
    the full pipeline has an exact DuckDB twin. Two bands of 4 hashes:
    candidate probability stays low on self-similar corpora (this fixture
    is adversarially word-soup-similar) while catching jac≥0.7 pairs."""
    return minhash_lsh_pairs(t(spark, sf_dir, "documents"), band_size=4)


def _simhash_oracle() -> str:
    hexd = "0123456789abcdef"
    terms = []
    for k in range(16):
        digit = 1 + k // 4
        shift = 2 ** (3 - k % 4)
        terms.append(
            f"(CASE WHEN 2 * len(list_filter(tk, x -> "
            f"((strpos('{hexd}', substr(md5(x), {digit}, 1)) - 1) // {shift}) % 2 = 1"
            f")) >= len(tk) THEN {1 << k} ELSE 0 END)"
        )
    sig = "\n             + ".join(terms)
    # len(tk) = 0 → NULL signature (matches simhash16's empty-doc rule:
    # the row survives, but carries no signature to band-join on).
    return rf"""
    WITH toks AS ({SQL_TOKS})
    SELECT doc_id,
           CASE WHEN len(tk) = 0 THEN NULL
                ELSE CAST({sig} AS BIGINT) END AS simhash
    FROM toks
    """


@register("q_text_simhash", oracle=_simhash_oracle())
def q_text_simhash(spark, sf_dir):
    """16-bit SimHash signatures (portable md5 bit recipe); near-dup
    candidates = equal/low-hamming signatures."""
    return simhash16(t(spark, sf_dir, "documents"))


def _simhash_pairs_oracle(max_hamming: int = 3) -> str:
    """All-pairs hamming join over the simhash CTE — the oracle skips the
    bit-band candidate generation (a pure optimization with zero false
    negatives by pigeonhole) and checks the *result* contract directly."""
    sig_cte = _simhash_oracle().strip()
    return f"""
    WITH sig AS ({sig_cte})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


@register("q_simhash_pairs", oracle=_simhash_pairs_oracle(1))
def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs: bit-band bucket equi-join (pigeonhole over
    hamming+1 bands — exact candidate superset) + bit_count(xor) verify.
    Returns (doc_a, doc_b, hamming ≤ 1) — with a 16-bit signature a larger
    radius admits mostly random collisions (hamming ≤ 3 matches 32% of ALL
    pairs on this corpus; ≤ 1 keeps the result ∝ true dup clusters)."""
    return simhash_pairs(t(spark, sf_dir, "documents"), max_hamming=1)


@register(
    "q_dedup_ngram",
    oracle=rf"""
    WITH toks AS ({SQL_TOKS}),
    g AS (
        SELECT doc_id AS k, tk AS gset, len(tka) AS bkt FROM toks
    )
    SELECT a.k AS doc_a, b.k AS doc_b,
           CAST(len(list_intersect(a.gset, b.gset)) AS DOUBLE)
             / len(list_distinct(list_concat(a.gset, b.gset))) AS jaccard
    FROM g a JOIN g b ON a.bkt = b.bkt AND a.k < b.k
    WHERE CAST(len(list_intersect(a.gset, b.gset)) AS DOUBLE)
             / len(list_distinct(list_concat(a.gset, b.gset))) >= 0.8
    """,
)
def q_dedup_ngram(spark, sf_dir):
    """Unigram-set jaccard near-dup pairs with token-count blocking
    (cheap blocking vs signature banding — same verify)."""
    return ngram_jaccard_pairs(t(spark, sf_dir, "documents"), n=1, threshold=0.8)


@register(
    "q_sim_topk",
    oracle="""
    WITH c AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    q AS (SELECT vec_id AS q_id, v AS qv FROM c WHERE vec_id < 5),
    scored AS (
        SELECT q.q_id, c.vec_id,
               list_dot_product(q.qv, c.v)
                 / (sqrt(list_dot_product(q.qv, q.qv))
                    * sqrt(list_dot_product(c.v, c.v))) AS raw
        FROM q CROSS JOIN c
    ),
    ranked AS (
        SELECT q_id, vec_id, raw,
               ROW_NUMBER() OVER (
                   PARTITION BY q_id ORDER BY raw DESC, vec_id
               ) AS rn
        FROM scored
    )
    SELECT q_id, vec_id, ROUND(raw, 6) AS cos
    FROM ranked WHERE rn <= 5
    """,
)
def q_sim_topk(spark, sf_dir):
    """Brute-force cosine top-5 for query vectors (vec_id < 5) against the
    corpus — the exact ANN baseline; broadcast query side, tie-broken by
    vec_id, scores rounded to 6dp for cross-engine fold-order tolerance."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    out = brute_force_topk(queries, emb, k=5)
    return out.select("q_id", "vec_id", F.round("cos", 6).alias("cos"))


@register(
    "q_sim_ivf_topk",
    oracle="""
    SELECT vec_id AS q_id, true AS self_top1, true AS recall_ok
    FROM embeddings WHERE vec_id < 10
    """,
)
def q_sim_ivf_topk(spark, sf_dir):
    """IVF (inverted-file) ANN — the similarity-search scale path — under a
    deterministic recall CONTRACT the oracle hash-checks: for each of 10
    query vectors, (a) the query itself is its own top-1 hit (it lives in
    the probed cell by construction) and (b) IVF's top-5 overlaps exact
    brute-force top-5 in ≥ 3 of 5 slots. Probe breadth is sized to the
    contract ACROSS fixtures, not just one scale factor (denser neighbor
    structure splits true neighbors across cells): at n_probe=6 the
    measured per-query overlap is 5/5 at sf0.001 and sf0.01 and min 4/5
    at sf0.1. The approximation itself is deterministic: integer-grid
    Lloyd (grid_ivf) from lowest-key seeds, tie-broken rankings — see
    operators/similarity.ivf_topk for the 100 TB layout (corpus written
    bucketed by cell → partition-pruned probes)."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    ivf = ivf_topk(queries, emb, k=5, n_cells=8, n_probe=6, kmeans_iters=3)
    brute = brute_force_topk(queries, emb, k=5)
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    top1 = (
        ivf.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("q_id", (F.col("vec_id") == F.col("q_id")).alias("self_top1"))
    )
    overlap = (
        ivf.select("q_id", "vec_id")
        .join(brute.select("q_id", "vec_id"), on=["q_id", "vec_id"])
        .groupBy("q_id")
        .agg((F.count(F.lit(1)) >= 3).alias("recall_ok"))
    )
    return top1.join(overlap, on="q_id").select("q_id", "self_top1", "recall_ok")


@register(
    "q_sim_lsh_pairs",
    oracle="""
    WITH c AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
             + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
             + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS bkt
        FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
    FROM c a JOIN c b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v))) >= 0.3
    """,
)
def q_sim_lsh_pairs(spark, sf_dir):
    """Approximate near-neighbor pairs: sign-bit LSH bucket equi-join +
    cosine ≥ 0.3 verify — the scale path (never an unpruned crossJoin)."""
    out = lsh_near_pairs(t(spark, sf_dir, "embeddings"), threshold=0.3, num_bits=4)
    return out.select("vec_a", "vec_b", F.round("cos", 6).alias("cos"))


@register(
    "q_multimodal_pipeline",
    oracle="""
    SELECT doc_id AS media_id,
           'image' AS modality,
           octet_length(encode(text)) AS n_bytes,
           ROUND(('0x' || substr(md5(md5(text)), 1, 2))::INT / 255.0, 9) AS f1
    FROM documents
    """,
)
def q_multimodal_pipeline(spark, sf_dir):
    """Multimodal plumbing end-to-end: text payloads as binary media rows
    → Arrow-batched feature extraction. The deterministic featurizer is
    an md5 hex chain, so the whole pipeline (including the Python/Arrow
    boundary) is value-checked against a DuckDB twin — real pixel codecs
    (PPM decodes natively; compressed formats stubbed) plug into the
    same path."""
    docs = t(spark, sf_dir, "documents")
    media = attach_media(docs, F.encode("text", "UTF-8"), "image", "image/fake", "doc_id")
    feats = extract_features(media, fake=True)
    return feats.select(
        "media_id", "modality", "n_bytes", F.round(F.element_at("features", 1), 9).alias("f1")
    )


@register(
    "q_text_scrub",
    oracle=r"""
    SELECT doc_id,
           regexp_replace(
               regexp_replace(
                   text || ' contact: user' || CAST(doc_id AS VARCHAR)
                        || '@example.com or +1-555-01' || CAST(doc_id AS VARCHAR),
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\+?[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g') AS clean
    FROM documents
    """,
)
def q_text_scrub(spark, sf_dir):
    """PII scrubbing (training-data hygiene): email/phone patterns →
    typed placeholders. The fixture has no PII, so the query plants a
    synthetic contact line per doc and verifies both patterns fire."""
    from incubator_flink_old_spark.operators.text import scrub_pii

    docs = t(spark, sf_dir, "documents")
    dirty = F.concat(
        F.col("text"),
        F.lit(" contact: user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-01"),
        F.col("doc_id").cast("string"),
    )
    return docs.select("doc_id", scrub_pii(dirty).alias("clean"))


@register(
    "q_text_vocab",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               UNNEST(list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> x <> '')) AS w
        FROM documents
    ),
    vocab AS (
        SELECT w FROM toks GROUP BY w
        ORDER BY COUNT(*) DESC, w LIMIT 100
    )
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           COUNT(v.w) AS n_in_vocab,
           CAST(COUNT(v.w) AS DOUBLE) / COUNT(*) AS coverage
    FROM toks t LEFT JOIN vocab v ON t.w = v.w
    GROUP BY t.doc_id
    """,
)
def q_text_vocab(spark, sf_dir):
    """Vocabulary coverage / OOV-rate proxy over the corpus top-100
    vocabulary (tie-broken deterministically)."""
    from incubator_flink_old_spark.operators.text import vocab_coverage

    return vocab_coverage(t(spark, sf_dir, "documents"))
