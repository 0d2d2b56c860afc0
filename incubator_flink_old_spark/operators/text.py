"""Text-analysis & deduplication operators (north-star W7; absent in the
reference — engine extensions for large-scale training-data pipelines).

All operators are pure Column-expression compositions (JVM-side, codegen)
— no Python UDFs in any hot path. Determinism contract: every hash is
md5-based (identical across engines/runs), every score a closed-form
expression, so the driver's DuckDB oracles can replay them exactly.

Scale notes: token/shingle explosion multiplies rows by ~tokens-per-doc —
partition counts must scale with input bytes, not doc counts; MinHash+LSH
banding keeps near-dup search at O(candidate pairs), never O(n²).
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from incubator_flink_old_spark.session import Stage, release, staged

#: Deterministic "stopword" marker sets for the heuristic language scorer.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ein"),
    "fr": ("le", "la", "les", "et", "un"),
    "es": ("el", "la", "los", "y", "una"),
}


def tokens(text_col: Column | str, distinct: bool = False) -> Column:
    """Whitespace tokenization to a (optionally distinct) token array.

    NULL text tokenizes to an EMPTY array, not NULL: `size(NULL)` is -1
    under Spark's legacy default, and a -1 token count poisons every
    downstream ratio. Ingest at scale always contains null payloads —
    they must degrade to "empty document", never to sentinel values.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    arr = F.split(F.lower(c), r"\s+")
    arr = F.filter(arr, lambda x: x != "")
    arr = F.coalesce(arr, F.array().cast("array<string>"))
    return F.array_distinct(arr) if distinct else arr


def token_count(text_col: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text_col))


def bpe_ish_token_count(text_col: Column | str) -> Column:
    """BPE-ish subword proxy: count alternating alpha / digit / symbol
    runs (the usual pre-tokenizer regex shape)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.regexp_count(F.lower(c), F.lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"))


def text_stats(df: DataFrame, text: str = "text", key: str = "doc_id") -> DataFrame:
    """Per-document structural stats: chars, tokens, distinct tokens,
    mean token length, type-token ratio."""
    toks = tokens(text)
    dtoks = F.array_distinct(toks)
    n_toks = F.size(toks)
    return df.select(
        key,
        F.length(text).cast("long").alias("n_chars"),
        n_toks.cast("long").alias("n_tokens"),
        F.size(dtoks).cast("long").alias("n_distinct_tokens"),
        (
            F.aggregate(toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))
            .cast("double")
            / n_toks
        ).alias("mean_token_len"),
        (F.size(dtoks).cast("double") / n_toks).alias("type_token_ratio"),
    )


def quality_score(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Heuristic quality scoring: stopword ratio, length band, repetition
    (1 - type/token) — the standard cheap pre-filters before expensive
    model-based scoring in a training-data pipeline. ``carry`` names
    extra input columns to pass through untouched (the winnow_fingerprints
    convention) — this keeps the scorer usable map-side on a STREAM,
    where joining the score back onto the source row is not an option
    (:func:`streaming_ingest_gate`)."""
    toks = tokens(text)
    n_toks = F.size(toks)
    stop = F.size(F.filter(toks, _isin_filter(LANG_MARKERS["en"])))
    dtoks = F.size(F.array_distinct(toks))
    stop_ratio = stop.cast("double") / n_toks
    repetition = F.lit(1.0) - dtoks.cast("double") / n_toks
    len_ok = (F.length(text) >= 100) & (F.length(text) <= 20000)
    score = (
        F.lit(0.5) * stop_ratio
        + F.lit(0.3) * (F.lit(1.0) - repetition)
        + F.lit(0.2) * len_ok.cast("double")
    )
    return df.select(
        key,
        *carry,
        stop_ratio.alias("stopword_ratio"),
        repetition.alias("repetition"),
        len_ok.alias("len_ok"),
        score.alias("quality"),
        (score >= 0.4).alias("keep"),
    )


def language_id(df: DataFrame, text: str = "text", key: str = "doc_id") -> DataFrame:
    """Marker-token language scorer: count language-specific stopwords,
    argmax with deterministic tie-break (score desc, language name asc),
    'und' (undetermined) when nothing matches."""
    toks = tokens(text)
    scores = [
        F.size(F.filter(toks, _isin_filter(markers))).alias(f"s_{lang}")
        for lang, markers in LANG_MARKERS.items()
    ]
    scored = df.select(key, *scores)
    langs = list(LANG_MARKERS)
    best = F.greatest(*[F.col(f"s_{lang}") for lang in langs])
    pred = F.lit("und")
    for lang in reversed(langs):  # earlier langs win ties → apply last
        pred = F.when(F.col(f"s_{lang}") == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best > 0, pred).otherwise(F.lit("und"))
    return scored.select(key, *[f"s_{lang}" for lang in langs], pred.alias("lang_pred"))


def fingerprint(df: DataFrame, text: str = "text", key: str = "doc_id") -> DataFrame:
    """Document fingerprint: md5 over the normalized text (lower, squeezed
    whitespace) — the exact-dedup key; plus a 16-hex prefix bucket."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text))), r"\s+", " ")
    fp = F.md5(F.encode(norm, "UTF-8"))
    return df.select(
        key,
        fp.alias("fp"),
        F.substring(fp, 1, 16).alias("fp_prefix"),
    )


def exact_dedup(df: DataFrame, text: str = "text", key: str = "doc_id") -> DataFrame:
    """Exact dedup via fingerprint hash-groupBy: one canonical (min-key)
    representative per distinct normalized text + the duplicate count.
    Pure shuffle-on-hash — the 100TB-safe exact pass that always runs
    before any fuzzy matching."""
    fp = fingerprint(df, text, key)
    return fp.groupBy("fp").agg(
        F.min(key).alias("canonical_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def minhash_signature(df: DataFrame, num_hashes: int = 8, text: str = "text", key: str = "doc_id") -> DataFrame:
    """MinHash signatures over distinct unigram token sets.

    hash_j(token) = md5('<j>|' + token); signature_j = min over tokens.
    md5 is engine-portable and deterministic — at scale one would swap in
    xxhash64 for speed, at the cost of oracle portability.
    """
    return _signatures(_stage_tokens(df, text, key), [key], num_hashes).drop("__n")


def minhash_bands(
    df: DataFrame,
    num_hashes: int = 8,
    band_size: int = 2,
    text: str = "text",
    key: str = "doc_id",
    _dtoks: DataFrame | None = None,
) -> DataFrame:
    """LSH band rows (key, __n, __bks, band, bucket) — the frame the
    candidate self-join runs on. Exposed so a 100 TB deployment can
    MATERIALIZE it bucketed by (band, bucket) (`bucketBy` +
    `saveAsTable`), making the candidate join zero-exchange
    (PERF.md "Round 2 delta", band-bucketed layout, measures exactly
    that); ``__n`` carries
    the distinct-token count for the size-ratio prefilter and ``__bks``
    the row's FULL bucket array (bucket == __bks[band]) so
    :func:`band_candidates` can dedup multi-band collisions with a
    first-matching-band filter instead of a pair-distinct shuffle
    (optimization round 12 — the distinct was ~70% of the candidate
    stage's engine time for a 1.28× duplicate factor).

    Signatures and the token count come from ONE staged distinct-token
    projection. ``_dtoks`` supplies that staged (key, __dt) frame
    directly — the share point: a caller that also verifies (the pair
    pipelines) stages ONE tokenize and feeds it to both the bands and
    the verify token sets; without it ``df`` is tokenized here."""
    assert num_hashes % band_size == 0
    staged = _dtoks if _dtoks is not None else _stage_tokens(df, text, key)
    return _band_rows(
        _signatures(staged, [key], num_hashes), [key], num_hashes, band_size
    )


def _stage_tokens(df: DataFrame, text: str, key: str) -> DataFrame:
    """(key, __dt): the staged distinct-token array that the MinHash
    signatures and the verify token sets both read. CollapseProject
    leaves a non-cheap column that is used more than once staged, so a
    plan deriving both from one staged frame tokenizes once."""
    return df.select(F.col(key).alias(key), tokens(text, distinct=True).alias("__dt"))


def _signatures(staged: DataFrame, cols: list, num_hashes: int) -> DataFrame:
    """(*cols, __n, mh0..mh{num_hashes-1}) over a frame carrying the
    staged distinct-token column ``__dt``: ``__n`` is the distinct-token
    count and mh_j = min over tokens of md5('<j>|' + token) — the one
    signature projection of the batch and the streaming screens.

    Parsed from SQL text: built from Column objects, the per-hash
    lambdas cost several hundred py4j round trips on the driver; parsed
    they cost a few each. The optimized plan is the same either way."""
    mh = "array_min(transform(`__dt`, x -> md5(encode(concat('{j}|', x), 'UTF-8'))))"
    return staged.select(
        *cols,
        F.expr("size(`__dt`) AS __n"),
        *[F.expr(f"{mh.format(j=j)} AS mh{j}") for j in range(num_hashes)],
    )


def _band_rows(sigs: DataFrame, cols: list, num_hashes: int, band_size: int) -> DataFrame:
    """LSH band rows (*cols, __n, __bks, band, bucket) of a signature
    frame (*cols, __n, mh0..): band b's bucket is
    md5(mh_{b·r} | … | mh_{b·r+r-1}) for r = ``band_size``, ``__bks``
    the row's array of every band's bucket, one row per band."""
    bucket = "md5(encode(concat_ws('|', {}), 'UTF-8'))"
    bks = ", ".join(
        bucket.format(", ".join(f"`mh{b * band_size + r}`" for r in range(band_size)))
        for b in range(num_hashes // band_size)
    )
    return sigs.select(*cols, "__n", F.expr(f"array({bks}) AS __bks")).select(
        *cols, "__n", "__bks", F.posexplode("__bks").alias("band", "bucket")
    )


def _lsh_side(
    df: DataFrame,
    num_hashes: int,
    band_size: int,
    text: str,
    key: str,
    _dtoks: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """``(toks, bands)`` of one side of a MinHash pair pipeline, both
    derived from ONE staged tokenize (``_dtoks``, or ``df`` spread to
    cluster width and tokenized here): toks = (__k, __toks) sorted
    60-bit token hashes for the verify, bands = :func:`minhash_bands`
    rows for the candidate join."""
    staged = _dtoks if _dtoks is not None else _stage_tokens(_spread_narrow(df), text, key)
    toks = staged.select(
        F.col(key).alias("__k"), _hashed_set(F.col("__dt")).alias("__toks")
    )
    return toks, minhash_bands(df, num_hashes, band_size, text, key, _dtoks=staged)


def _size_ratio_ok(na: str, nb: str, threshold: float) -> Column:
    """The size-ratio prefilter over two set-size SQL expressions:
    jac(A,B) ≥ t ⇒ |A∩B| ≥ t·|A∪B|, and since |A∩B| ≤ min(|A|,|B|) and
    |A∪B| ≥ max(|A|,|B|), min/max ≥ t — pairs failing it CANNOT pass
    verify, so dropping them before the array intersect is
    result-identical and cheap (int math)."""
    return F.expr(f"CAST(least({na}, {nb}) AS DOUBLE) / greatest({na}, {nb})") >= threshold


def _band_sides(bands_a: DataFrame, bands_b: DataFrame, key: str) -> tuple[DataFrame, DataFrame]:
    """Name two band-row frames as the probe (doc_a, na, __ba) and the
    build (doc_b, nb, __bb) side of the candidate join."""
    return (
        bands_a.select(
            F.col(key).alias("doc_a"), F.col("__n").alias("na"),
            F.col("__bks").alias("__ba"), "band", "bucket",
        ),
        bands_b.select(
            F.col(key).alias("doc_b"), F.col("__n").alias("nb"),
            F.col("__bks").alias("__bb"), "band", "bucket",
        ),
    )


def _band_probe(
    left: DataFrame,
    right: DataFrame,
    jaccard_threshold: float | None,
    first_band: bool = True,
    ordered: bool = False,
) -> DataFrame:
    """The candidate step of every MinHash pair pipeline, batch and
    stream: ``left`` (doc_a, na, …) ⋈ ``right`` (doc_b, nb, …) on
    (band, bucket), kept where

    - ``doc_a < doc_b`` if ``ordered`` (a self-join, once per unordered
      pair);
    - the size-ratio prefilter (:func:`_size_ratio_ok`) holds, unless
      ``jaccard_threshold`` is None;
    - ``band`` is the first index where the two bucket arrays ``__ba`` /
      ``__bb`` agree, if ``first_band`` (see :func:`band_candidates`).
    """
    conds = []
    if ordered:
        conds.append(F.col("doc_a") < F.col("doc_b"))
    if jaccard_threshold is not None:
        conds.append(_size_ratio_ok("`na`", "`nb`", jaccard_threshold))
    if first_band:
        conds.append(
            F.expr(
                "array_position(zip_with(`__ba`, `__bb`, (x, y) -> x = y), true)"
                " = `band` + 1"
            )
        )
    return left.join(right, on=["band", "bucket"]).filter(reduce(and_, conds))


def band_candidates(
    bands: DataFrame,
    jaccard_threshold: float | None,
    key: str = "doc_id",
    join_hint: str | None = None,
) -> DataFrame:
    """Candidate (doc_a, doc_b) pairs from a band-row frame — the
    self-equi-join on (band, bucket) plus the size-ratio prefilter
    (skipped when ``jaccard_threshold`` is None: containment allows any
    size ratio).

    Multi-band dedup is a FIRST-MATCHING-BAND filter, not a pair
    distinct: a pair colliding in m bands appears once per band, and
    exactly the row whose ``band`` is the first index where the two
    docs' bucket arrays agree survives (``__bks`` carries every band's
    bucket, so the check is map-side). Result-identical to
    ``.distinct()`` — each unordered pair collides in a fixed band set,
    at most once per band — but the O(candidates) dedup exchange is gone
    (optimization round 12: the distinct was ~6 engine-s of the sf0.1
    candidate stage's ~8.2 to remove a 1.28× duplicate factor; the
    filter is a 2-element array compare in the join's own stage).

    ``join_hint="merge"`` forces a sort-merge join: over a band table
    MATERIALIZED bucketed by (band, bucket) (`q_dedup_minhash_layout`),
    that join is zero-exchange — the 100 TB probe shape where re-running
    near-dup search costs O(candidates), not a corpus shuffle (and with
    the distinct gone, zero exchanges anywhere in the candidate plan).
    """
    left, right = _band_sides(bands, bands, key)
    if join_hint:
        left = left.hint(join_hint)
    return _band_probe(left, right, jaccard_threshold, ordered=True).select(
        "doc_a", "doc_b"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    num_hashes: int = 8,
    band_size: int = 2,
    jaccard_threshold: float = 0.7,
    text: str = "text",
    key: str = "doc_id",
    band_join_hint: str | None = None,
    _dtoks: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding + exact verify.

    1. signatures (num_hashes minhashes) per doc;
    2. band buckets: hash of each band_size-run of signature values —
       docs sharing ANY band bucket become candidate pairs (equi-join on
       the bucket — O(candidates), never a crossJoin);
    3. exact token-set jaccard verification ≥ threshold.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.
    """
    # Verify runs on 60-bit token hashes (longs), not strings: the exact
    # jaccard is identical (collisions ~n²/2^61 ≈ never) and integer
    # set-intersection is several× cheaper — this is the dominant cost on
    # high-duplication corpora where candidates ≈ all pairs. ``_dtoks``:
    # staged distinct-token arrays from a caller that owns a persist
    # lifecycle (dedup_clusters).
    toks, bands = _lsh_side(df, num_hashes, band_size, text, key, _dtoks)
    cands = band_candidates(
        bands, jaccard_threshold, key=key, join_hint=band_join_hint
    )
    return _jaccard_verify(cands, toks, toks, jaccard_threshold)


def _jaccard_verify(
    cands: DataFrame,
    toks_a: DataFrame,
    toks_b: DataFrame,
    jaccard_threshold: float,
) -> DataFrame:
    """Exact-jaccard verify over candidate (doc_a, doc_b) pairs, given
    (__k, __toks) hashed-token-set frames for each side."""
    joined = cands.join(
        toks_a.withColumnRenamed("__k", "doc_a").withColumnRenamed("__toks", "ta"), on="doc_a"
    ).join(
        toks_b.withColumnRenamed("__k", "doc_b").withColumnRenamed("__toks", "tb"), on="doc_b"
    )
    return _jaccard_tail(joined, ["doc_a", "doc_b"], "ta", "tb", jaccard_threshold)


def _jaccard_tail(
    pairs: DataFrame, out: list, ta: str, tb: str, jaccard_threshold: float
) -> DataFrame:
    """The verify tail of every jaccard pair pipeline: the ``out``
    columns of ``pairs`` plus the exact jaccard of its token-set columns
    ``ta`` / ``tb``, kept where jaccard ≥ threshold.

    |A∪B| = |A|+|B|-|A∩B| (sets): one intersect instead of
    intersect+union — the verify step dominates the pipeline's cost.
    The intersect size is STAGED as a real column AND the threshold
    filter sits above a Generate barrier (_verify_barrier): a plain
    filter on a projected jaccard gets substituted and pushed into the
    broadcast-join CONDITION by PushPredicateThroughJoin, making every
    probe row evaluate the intersect twice (once in the condition, once
    in the output projection — observed in the physical plan). A filter
    on a Generate-produced attribute cannot be pushed below the
    Generate, so the intersect runs exactly once per candidate.
    """
    scored = pairs.select(
        *out,
        _intersect_size(ta, tb).alias("__i"),
        (F.size(ta) + F.size(tb)).alias("__s"),
    )
    return _verify_barrier(
        scored,
        F.struct(
            *[F.col(c) for c in out],
            F.expr("CAST(`__i` AS DOUBLE) / (`__s` - `__i`)").alias("jaccard"),
        ),
    ).filter(F.col("jaccard") >= jaccard_threshold)


def simhash16(df: DataFrame, text: str = "text", key: str = "doc_id") -> DataFrame:
    """16-bit SimHash over distinct tokens (portable bit recipe).

    bit k of md5(token) = bit (3 - k%4) of hex digit k//4; the signature
    sets bit k iff ≥half the tokens have it set. Near-dup candidates =
    equal (or low-hamming) signatures.

    Fully MAP-SIDE: the hashed-token array is staged once as a real
    column (md5 runs once per token — the ``quantize_embeddings``
    staging rule; CollapseProject leaves non-cheap multi-use projections
    alone) and each bit's count is a ``size(filter(...))`` over it. No
    explode, no shuffle — at 100 TB signature computation is a pure
    table rewrite. This also fixes the round-2 silent row-loss bug
    (VERDICT "What's wrong" #4): explode dropped empty-token documents;
    now every input row survives, with ``simhash = NULL`` for documents
    that have no tokens (NULL, not 0: a shared sentinel signature would
    make every pair of empty docs a near-dup candidate, an O(empties²)
    blowup — empty/identical docs belong to exact dedup instead).
    """
    return _simhash_project(_spread_narrow(df.select(key, text)), text, key)


def _simhash_project(df: DataFrame, text: str, key: str) -> DataFrame:
    """simhash16's signature projection over ``df`` = (key, text), which
    the caller has already spread to cluster width."""
    dtoks = tokens(text, distinct=True)
    # One md5 + ONE base-16 parse per token: the first 4 hex chars of
    # md5(token) hold all 16 recipe bits as an int (digit k//4 occupies
    # bits [(3-k//4)*4, +3] of the parsed value, its bit (3-k%4) is the
    # recipe's bit k) — the per-bit counts below are then pure integer
    # shifts over this staged array, no string work.
    staged = df.select(
        F.col(key).alias(key),
        F.size(dtoks).alias("__n"),
        F.transform(
            dtoks,
            lambda x: F.conv(
                F.substring(F.md5(F.encode(x, "UTF-8")), 1, 4), 16, 10
            ).cast("int"),
        ).alias("__p"),
    )

    # The 16 per-bit counts, written as ONE SQL expression: built from
    # Column objects, the same tree costs ~900 py4j round trips on the
    # driver (16 filter lambdas, each a dozen JVM calls plus their
    # reflection lookups); parsed from text it costs a handful. The
    # optimized plan is the same either way.
    def bit(k: int) -> str:
        pos = (3 - k // 4) * 4 + (3 - k % 4)
        ones = f"size(filter(`__p`, v -> shiftright(v, {pos}) % 2 = 1))"
        return (
            f"CASE WHEN {ones} * 2 >= `__n` THEN CAST({1 << k} AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END"
        )

    sig = " + ".join(["CAST(0 AS BIGINT)"] + [bit(k) for k in range(16)])
    return staged.select(
        key, F.expr(f"CASE WHEN `__n` > 0 THEN {sig} END").alias("simhash")
    )


def training_corpus(
    df: DataFrame,
    langs: tuple[str, ...] = ("en", "de", "fr"),
    text: str = "text",
    key: str = "doc_id",
) -> DataFrame:
    """End-to-end training-set materialization — the composed pipeline a
    data-curation job actually runs, built entirely from this module's
    primitives: exact dedup (keep the min-id doc per fingerprint) ∩
    quality filter (heuristic keep score) ∩ language allowlist.

    All three stages are hash-shuffle / broadcast-free Column work; the
    only shuffles are the fingerprint groupBy and the final joins on the
    doc key (co-partitioned). Returns (doc_id, lang, n_chars, quality)
    for kept documents.
    """
    fp = fingerprint(df, text, key)
    canon = fp.groupBy("fp").agg(F.min(key).alias("__canon"))
    keep_exact = fp.join(canon, on="fp").filter(F.col(key) == F.col("__canon"))
    q = quality_score(df, text, key).filter(F.col("keep"))
    return (
        df.select(key, "lang", "n_chars")
        .filter(F.col("lang").isin(*langs))
        .join(keep_exact.select(key), on=key)
        .join(q.select(key, "quality"), on=key)
        .select(key, "lang", "n_chars", F.round("quality", 6).alias("quality"))
    )


def components_partial(
    spark,
    edges: DataFrame,
    n_edges: int | None = None,
    max_iterations: int = 20,
    local_max: int = 500_000,
) -> DataFrame:
    """Connected components over an edge list with the finish-small move:
    ≤ ``local_max`` edges are solved by a bounded driver-side union-find
    (one collect — the same finish-small call AQE makes for joins),
    larger graphs run the G2 delta-iteration operator distributed.

    Returns a PARTIAL (id, component) mapping — ids absent from the
    result are their own component (callers left-join and coalesce to
    self). Shared by `dedup_clusters` (its contracted residual graph)
    and `resolve_entities` (fuzzy-linkage name graph).
    """
    from incubator_flink_old_spark.operators.graph import connected_components
    from incubator_flink_old_spark.sources import local_rows

    if n_edges is None:
        n_edges = edges.count()
    if n_edges > local_max:
        return connected_components(edges, max_iterations=max_iterations)
    parent: dict = {}

    def _find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for row in edges.collect():
        a, b = _find(row["src"]), _find(row["dst"])
        if a != b:
            if a > b:
                a, b = b, a
            parent[b] = a
    return local_rows(
        spark,
        [(int(k), int(_find(k))) for k in parent],
        "id long, component long",
    )


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame | None = None,
    text: str = "text",
    key: str = "doc_id",
    band_size: int = 2,
    jaccard_threshold: float = 0.7,
    max_iterations: int = 20,
    residual_local_max: int = 500_000,
) -> DataFrame:
    """Near-duplicate CLUSTERING — the actual dedup decision a training
    pipeline executes: pair list → connected components → keep one
    canonical (min-id) document per cluster.

    Dataflow (the pair pipeline — signatures + banded join + verify — is
    the expensive stage, and it is shuffled exactly ONCE):

    1. symmetrized pairs → ``groupBy(id).collect_set(nbrs)`` adjacency.
       This single aggregation is the only shuffle of the pair list; its
       output has one row per NON-SINGLETON node (a tiny fraction of the
       corpus — dup-graph nodes only), which is cached cheaply.
       Per-node array size = degree ≈ dup-cluster size; a cluster big
       enough to hurt here already blew up the O(cluster²) candidate
       pair join upstream, so adjacency rows are never the bottleneck.
    2. star-contraction labels lbl(x) = min(x, neighbors(x)) — derived
       from the cached adjacency, no extra shuffle. Each label lies in
       its node's component and every edge induces a label edge, so
       contracting through lbl preserves components while collapsing
       each near-clique (the shape dup clusters take) to ~one node.
    3. residual label graph = exploded adjacency relabeled at both ends
       (labels is per-dup-node tiny → AQE broadcasts those joins). If it
       has ≤ ``residual_local_max`` edges it is solved with a local
       union-find — the contracted graph is orders of magnitude smaller
       than the input, the same finish-small move AQE makes for joins —
       else the G2 delta-iteration connected-components operator runs
       distributed (``max_iterations`` bounds it).
    4. one join assigns components back; docs absent from every pair are
       singleton clusters of themselves.

    Returns (doc_id, cluster_id, keep) for EVERY input document, where
    keep ⇔ doc_id == cluster_id (the canonical member).
    """
    with staged() as st:
        with staged() as tok:
            if pairs is None:
                # Stage the distinct-token arrays ONCE (VERDICT r12 item
                # 5): the pair pipeline otherwise tokenizes the corpus
                # three times in one evaluation — the bands' fused
                # projection plus BOTH verify sides' token sets. Its single
                # consumer is the adjacency aggregation below, so the inner
                # scope releases it right after adj materializes.
                spread = _spread_narrow(df)
                dtoks = tok.keep(_stage_tokens(spread, text, key).persist())
                pairs = minhash_lsh_pairs(
                    spread, band_size=band_size,
                    jaccard_threshold=jaccard_threshold,
                    text=text, key=key, _dtoks=dtoks,
                )
            # Symmetrize via per-row explode, NOT union-of-swapped-
            # projections: union(A, A.swap) plants the whole pair pipeline
            # (signatures, band join, verify) TWICE in the physical plan —
            # measured 2× the pair cost at sf0.1. One Generate over each
            # pair row keeps the expensive subtree single.
            sym = pairs.select(
                F.explode(F.array(
                    F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
                    F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")),
                )).alias("e")
            ).select("e.src", "e.dst")
            adj = st.keep(sym.groupBy(F.col("src").alias("id")).agg(
                F.collect_set("dst").alias("nbrs")
            ).persist())
            adj.count()  # materialize: every consumer below reads the cache
        labels = adj.select("id", F.least("id", F.array_min("nbrs")).alias("lbl"))
        la = labels.select(F.col("id").alias("src"), F.col("lbl").alias("la"))
        lb = labels.select(F.col("id").alias("dst"), F.col("lbl").alias("lb"))
        cedges = (
            adj.select(F.col("id").alias("src"), F.explode("nbrs").alias("dst"))
            .join(la, on="src")
            .join(lb, on="dst")
            .filter(F.col("la") != F.col("lb"))
            .select(F.col("la").alias("src"), F.col("lb").alias("dst"))
            .distinct()
        )
        n_residual = cedges.count()
        if n_residual == 0:
            comp = labels.select(
                F.col("id").alias("__cid"), F.col("lbl").alias("component")
            )
        else:
            comp_small = components_partial(
                df.sparkSession,
                cedges,
                n_edges=n_residual,
                max_iterations=max_iterations,
                local_max=residual_local_max,
            )
            comp = labels.join(
                comp_small, labels["lbl"] == comp_small["id"], "left"
            ).select(
                labels["id"].alias("__cid"),
                F.coalesce(F.col("component"), F.col("lbl")).alias("component"),
            )
        # The returned frame must not depend on the adjacency cache (the
        # caller consumes it at an unknown later time, which would leak
        # the cache in a long-lived session — VERDICT r02 "What's wrong"
        # #5). comp is tiny (one row per non-singleton dup-graph node), so
        # materializing it with a localCheckpoint before the scope
        # releases the adjacency is cheap.
        comp = comp.localCheckpoint(eager=True)
    return (
        df.select(F.col(key).cast("long").alias(key))
        .join(comp, F.col(key) == F.col("__cid"), "left")
        .select(
            key,
            F.coalesce(F.col("component"), F.col(key)).alias("cluster_id"),
        )
        .withColumn("keep", F.col(key) == F.col("cluster_id"))
    )


def containment_pairs_exact(
    df: DataFrame,
    threshold: float = 0.9,
    text: str = "text",
    key: str = "doc_id",
) -> DataFrame:
    """EXACT set-containment join |A∩B|/|A| ≥ t via prefix filtering
    (the PPJoin/AllPairs family) — the zero-false-negative complement to
    :func:`containment_pairs`' MinHash-band candidates, which trade
    recall for volume on the small⊂big long tail.

    Prefix principle: order every document's distinct tokens by GLOBAL
    rarity (ascending document frequency, ties by token hash). If
    |A∩B| ≥ ⌈t·|A|⌉ then A shares at least one of its first
    |A| − ⌈t·|A|⌉ + 1 rarest tokens with B — otherwise too few tokens
    remain outside the prefix to reach the bound. Candidates are
    therefore prefix(A) ⋈ inverted-token-index(B): an equi-join whose
    volume is Σ_token prefix_count·doc_count, dominated by RARE tokens
    (frequent tokens only enter short prefixes), so on a Zipfian corpus
    it stays near-linear. On an adversarially tiny vocab (this fixture:
    31 tokens, each in ~78% of docs) every posting list is ~the whole
    corpus and the candidate set degenerates toward all-pairs — that is
    data-inherent for EXACT containment (the output itself is ~O(n²)
    there), and the operator stays correct.

    Dataflow (3 shuffles + verify):
    1. doc-frequency of every token (groupBy token);
    2. rarity-sorted token array per doc (join freq + re-aggregate,
       deterministic sort by (freq, token));
    3. prefix explode ⋈ full token index → distinct candidates;
    4. staged-intersect verify behind the Generate barrier.

    Empty-token documents produce no rows (containment from an empty set
    is undefined); callers needing them route through exact dedup.
    Returns (contained, container, containment) ordered pairs.
    """
    toksets = df.select(
        F.col(key).alias("__k"),
        _hashed_set(tokens(text, distinct=True)).alias("__toks"),
    )
    tokrows = toksets.select("__k", F.explode("__toks").alias("__t"))
    dfreq = tokrows.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
    ranked = (
        tokrows.join(dfreq, on="__t")
        .groupBy("__k")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__df"), F.col("__t")))
            ).alias("__s")
        )
        .select(
            "__k",
            F.transform("__s", lambda s: s["__t"]).alias("__sorted"),
        )
    )
    n = F.size("__sorted")
    prefix_len = n - F.ceil(F.lit(threshold) * n).cast("int") + 1
    pref = ranked.select(
        F.col("__k").alias("__ca"),
        F.explode(F.slice("__sorted", F.lit(1), prefix_len)).alias("__t"),
    )
    cands = (
        pref.join(tokrows.select(F.col("__k").alias("__cb"), "__t"), on="__t")
        .filter(F.col("__ca") != F.col("__cb"))
        .select("__ca", "__cb")
        .distinct()
    )
    scored = (
        cands.join(
            toksets.select(F.col("__k").alias("__ca"), F.col("__toks").alias("ta")),
            on="__ca",
        )
        .join(
            toksets.select(F.col("__k").alias("__cb"), F.col("__toks").alias("tb")),
            on="__cb",
        )
        .select(
            "__ca",
            "__cb",
            _intersect_size("ta", "tb").alias("__i"),
            F.size("ta").alias("__la"),
        )
    )
    out = _verify_barrier(
        scored,
        F.struct(
            F.col("__ca").alias("contained"),
            F.col("__cb").alias("container"),
            (F.col("__i").cast("double") / F.col("__la")).alias("containment"),
        ),
    )
    return out.filter(F.col("containment") >= threshold).select(
        "contained", "container", F.round("containment", 6).alias("containment")
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 8,
    text: str = "text",
    key: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    standard context-window preprocessing step for LLM training.

    Pure Column expressions (sequence → transform → posexplode): chunk i
    starts at token 1 + i*(chunk_tokens - overlap); the last window may
    be shorter; start positions run to max(n - overlap, 1) so the tail is
    covered without emitting a fully-contained trailing chunk. Row
    explosion is ~n_tokens/stride per doc — partition by input bytes.

    Returns (doc_id, chunk_idx, chunk_text, n_chunk_tokens).
    """
    if chunk_tokens <= overlap:
        raise ValueError("chunk_tokens must exceed overlap")
    stride = chunk_tokens - overlap
    toks = tokens(text)
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(toks) - overlap, F.lit(1)), F.lit(stride)
    )
    chunks = F.transform(starts, lambda s: F.slice(toks, s, chunk_tokens))
    return (
        df.select(key, F.posexplode(chunks).alias("chunk_idx", "__chunk"))
        .select(
            key,
            "chunk_idx",
            F.concat_ws(" ", "__chunk").alias("chunk_text"),
            F.size("__chunk").cast("long").alias("n_chunk_tokens"),
        )
    )


def sample_stratified(
    df: DataFrame,
    strata: str,
    fractions: dict[str, float],
    key: str = "doc_id",
    default_fraction: float = 0.0,
    denom: int = 1_000_000,
) -> DataFrame:
    """Deterministic stratified sampling: per-stratum Bernoulli keyed on a
    portable md5 hash of the row key — reproducible across engines, runs
    and partitionings (rand()-based sampleBy is none of those).

    Keep a row iff md5(key) mod denom < fraction[stratum] * denom. The
    fractions map rides a broadcast join (tiny dim), the hash predicate
    is a pure Column expression — shuffle-free sampling at any scale.
    """
    spark = df.sparkSession
    from incubator_flink_old_spark.sources import local_rows

    frac = local_rows(
        spark,
        [(k, float(v)) for k, v in fractions.items()],
        f"{strata} string, __frac double",
    )
    bucket = _hash60(F.col(key).cast("string")) % denom
    return (
        df.join(F.broadcast(frac), on=strata, how="left")
        .withColumn("__frac", F.coalesce("__frac", F.lit(float(default_fraction))))
        .filter(bucket < (F.col("__frac") * denom).cast("long"))
        # the USING join moved the strata column first; restore input order
        .select(*df.columns)
    )


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text: str = "text",
    key: str = "doc_id",
) -> DataFrame:
    """Near-duplicate pairs via SimHash bit-band bucketing + exact hamming
    verify — the SimHash twin of :func:`minhash_lsh_pairs`.

    Pigeonhole exactness: the 16 signature bits are split into
    ``max_hamming + 1`` contiguous bit bands; two signatures within
    hamming ≤ max_hamming MUST agree on at least one whole band, so the
    banded equi-join (never a crossJoin) generates a candidate superset
    with zero false negatives. ``bit_count(xor)`` then verifies the exact
    distance. At 100 TB the shape is the same bucketed equi-join as the
    MinHash path: candidates ∝ true near-dups, shuffle keyed on
    (band, band_bits).

    Empty-token documents carry a NULL signature (simhash16's empty-doc
    rule); their band bits are NULL, the equi-join never matches NULL,
    so they produce no pairs — deliberately, since a shared sentinel
    would emit O(empties²) pairs.

    Returns (doc_a, doc_b, hamming) with doc_a < doc_b.
    """
    if not 0 <= max_hamming < 16:
        raise ValueError("max_hamming must be in [0, 16)")
    # (key, simhash): simhash16's projection over ONE width probe — a
    # second probe of a repartitioned frame runs its shuffle-map job
    # under AQE.
    sigs = _simhash_project(_spread_narrow(df).select(key, text), text, key)
    n_bands = max_hamming + 1
    base_w, rem = divmod(16, n_bands)
    bands, start = [], 0
    for b in range(n_bands):
        width = base_w + (1 if b < rem else 0)
        bands.append(
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), start)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("bits"),
            )
        )
        start += width
    exploded = sigs.select(
        key, "simhash", F.explode(F.array(*bands)).alias("bb")
    ).select(key, "simhash", F.col("bb.band").alias("band"), F.col("bb.bits").alias("bits"))

    left = exploded.select(
        F.col(key).alias("doc_a"), F.col("simhash").alias("sa"), "band", "bits"
    )
    right = exploded.select(
        F.col(key).alias("doc_b"), F.col("simhash").alias("sb"), "band", "bits"
    )
    return (
        left.join(right, on=["band", "bits"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        # a pair sharing several bands appears once per shared band
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    text: str = "text",
    key: str = "doc_id",
    bucket_expr: Column | None = None,
) -> DataFrame:
    """Word n-gram jaccard near-dup pairs within a blocking bucket.

    Blocking (default: exact token count) bounds the pair space; exact
    n-gram-set jaccard ≥ threshold verifies. For unigram sets this is the
    same verify as MinHash-LSH but with cheap blocking instead of
    signature banding.
    """
    toks = tokens(text)
    grams = (
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
            )
        )
        if n > 1
        else tokens(text, distinct=True)
    )
    bucket = bucket_expr if bucket_expr is not None else F.size(toks)
    # Same 60-bit hash trick as the MinHash verify: jaccard over integer
    # gram hashes is value-identical and much cheaper to intersect.
    g = df.select(
        F.col(key).alias("k"), _hashed_set(grams).alias("g"), bucket.alias("bkt")
    )
    a = g.select(F.col("k").alias("doc_a"), F.col("g").alias("ga"), "bkt")
    b = g.select(F.col("k").alias("doc_b"), F.col("g").alias("gb"), "bkt")
    pairs = a.join(b, on="bkt").filter(
        (F.col("doc_a") < F.col("doc_b"))
        & _size_ratio_ok("size(`ga`)", "size(`gb`)", threshold)
    )
    return _jaccard_tail(pairs, ["doc_a", "doc_b"], "ga", "gb", threshold)

def _hash60(tok: Column) -> Column:
    """60-bit integer token hash: first 15 hex digits of md5, portable to
    DuckDB as ('0x' || substr(md5(x), 1, 15))::BIGINT."""
    return F.conv(F.substring(F.md5(F.encode(tok, "UTF-8")), 1, 15), 16, 10).cast("long")


def _verify_barrier(df: DataFrame, *structs: Column) -> DataFrame:
    """Fan each row out into the given struct rows through ONE
    ``explode(array(structs...))`` Generate — used as an OPTIMIZER
    BARRIER by the pair-verify pipelines.

    Catalyst's PushPredicateThroughJoin substitutes a filter on a
    projected expression (jaccard / containment) down into the verify
    join's CONDITION, so the non-cheap staged intersect underneath it is
    evaluated once in the condition and again in the output projection.
    Predicates on Generate-produced attributes cannot cross the
    Generate, and the Project computing the staged intersect below it is
    not collapsed into the Generate — one intersect per candidate,
    verified on the physical plan.
    """
    out = df.select(F.explode(F.array(*structs)).alias("__e"))
    return out.select("__e.*")


def _intersect_size(a, b) -> Column:
    """|A∩B| for arrays of DISTINCT non-null elements — the verify
    kernel for every pair pipeline (minhash / ngram / containment).

    Plain ``size(array_intersect)``, deliberately branch-free: a prior
    "adaptive" form picked linear-scan vs hashed per row with a WHEN,
    and the conditional forced the HOF branch out of whole-stage codegen
    into interpreted evaluation — measured 33.3 s vs 1.17 s over the
    same 4.2 M sf0.1 minhash candidates. Callers MUST stage the result
    as a real column before referencing it twice (engine staging rule),
    and should stage SORTED element arrays (``_hashed_set``) — the
    intersect is order-insensitive, but sorted inputs measure a further
    ~1.7× (0.69 s) on the same candidates.
    """
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return F.size(F.array_intersect(a, b))


_SPREAD_KILL_WARNED = False


def _spread_narrow(df: DataFrame) -> DataFrame:
    """Rebalance a NARROW batch input to cluster width before CPU-dense
    per-row work (crypto-hash-per-token signatures, n-gram fingerprints,
    per-candidate verifies).

    A small parquet fixture (or any sub-split-size file) scans as ONE
    input partition, so every downstream map segment — and, worse, a
    broadcast-join probe pipeline that never shuffles — executes in one
    task while the rest of the cluster idles (measured on the sf0.1 pair
    family: the distinct-free candidate+verify pipeline ran 13.6 s
    wall = 13.6 s engine, parallelism 1). The target width is the
    runtime's own ``defaultParallelism`` — cluster-adaptive, never a
    constant — and the rebalance only fires when the input is at least
    4× narrower than that, so at production scale (thousands of scan
    splits) it is a no-op decided from the plan, with no exchange added.
    Streaming frames pass through untouched (repartitioning a stream
    would reshape micro-batch/state layout).
    """
    import os

    if os.environ.get("SPARK_GRAFT_SPREAD", "1") == "0":
        # measurement kill-switch (tools/family_probe.py A/B runs). Warn
        # ONCE if it leaks into a real run: with spreading off, screens
        # and the pure-map trainers serialize into one task on narrow
        # inputs (ADVICE r12).
        global _SPREAD_KILL_WARNED
        if not _SPREAD_KILL_WARNED:
            _SPREAD_KILL_WARNED = True
            import warnings

            warnings.warn(
                "SPARK_GRAFT_SPREAD=0: narrow-scan rebalance disabled —"
                " A/B measurement mode only; narrow-input screens and"
                " trainers will serialize into one task",
                stacklevel=2,
            )
        return df
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    width = sc.defaultParallelism
    try:
        nparts = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover — exotic plans; spreading is optional
        return df
    if nparts * 4 > width:
        return df
    return df.repartition(width)


def _hashed_set(elems: Column) -> Column:
    """Stage a distinct element array as SORTED 60-bit hashes — the form
    every pair-verify pipeline joins on (see _intersect_size)."""
    return F.array_sort(F.transform(elems, _hash60))


def _isin_filter(markers):
    """Single-arg lambda factory: PySpark higher-order functions treat a
    2-arg callable as (element, index), so extra default-bound params must
    never leak into the signature."""
    return lambda x: x.isin(*markers)



#: PII patterns (portable regex subset — identical semantics in Spark's
#: Java regex and DuckDB's RE2): emails and phone-ish digit runs.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\+?[0-9][0-9()\- ]{6,}[0-9]", "<PHONE>"),
)


def scrub_pii(text_col: Column | str) -> Column:
    """Training-data hygiene: replace emails/phone numbers with typed
    placeholder tokens. Pure regexp_replace chain — JVM-side, and exactly
    replayable in SQL oracles."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    for pattern, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pattern, repl)
    return c


def vocab_coverage(
    df: DataFrame,
    vocab_size: int = 100,
    text: str = "text",
    key: str = "doc_id",
) -> DataFrame:
    """Vocabulary coverage: fraction of each document's tokens found in
    the corpus-wide top-``vocab_size`` vocabulary (the cheap OOV-rate
    proxy used to filter noisy documents before tokenizer training).

    Two aggregations sharing one explode; the vocabulary is tiny and
    broadcast into the coverage join.
    """
    toks = df.select(F.col(key).alias(key), F.explode(tokens(text)).alias("w"))
    vocab = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("w"))
        .limit(vocab_size)
        .select("w")
    )
    flagged = toks.join(
        F.broadcast(vocab.withColumn("__in", F.lit(1))), on="w", how="left"
    )
    return flagged.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count("__in").alias("n_in_vocab"),
        (F.count("__in").cast("double") / F.count(F.lit(1))).alias("coverage"),
    )


def ngrams_of(tka: Column, n: int, hashed: bool = False) -> Column:
    """Token n-gram array from an ALREADY-STAGED token-array column.

    ``tka`` must be a plain column reference, not an expression tree:
    higher-order-function lambdas re-evaluate captured expressions per
    element, so passing ``tokens(text)`` directly would re-tokenize the
    document once per gram (O(tokens²) per row — the same trap
    quantize_embeddings documents). Empty when the document has fewer
    than n tokens — the guard matters because Spark's
    ``sequence(1, stop)`` DESCENDS when stop < 1.

    ``hashed=True`` emits xxhash64 longs instead of the gram strings:
    8-byte shuffle keys instead of ~10·n-byte strings for counting /
    membership pipelines where the gram text itself is never output
    (collision odds ~grams²/2⁶⁴ — irrelevant at any real corpus size).
    """
    gram = lambda i: F.concat_ws(" ", F.slice(tka, i, n))  # noqa: E731
    per = (lambda i: F.xxhash64(gram(i))) if hashed else gram
    empty = "array<long>" if hashed else "array<string>"
    return F.when(
        F.size(tka) >= n,
        F.transform(F.sequence(F.lit(1), F.size(tka) - (n - 1)), per),
    ).otherwise(F.array().cast(empty))


def exploded_ngrams(
    staged: DataFrame,
    n: int,
    carry: tuple[str, ...],
    tka: str = "__tka",
    hashed: bool = True,
    out: str = "g",
) -> DataFrame:
    """One row per token n-gram of a staged token-array column.

    Explodes gram START POSITIONS and builds the gram AFTER the
    Generate, where ``tka`` is a plain attribute. Exploding a
    pre-built gram ARRAY instead is a trap: Catalyst's
    infer-filters-from-generate pushes a `size(grams) > 0` predicate
    below the staging projections with the whole gram expression
    inlined — per-element lambdas then re-tokenize the document inside
    the filter, O(tokens²) per row (measured 2.7 s vs 0.2 s at sf0.1
    for the 2-gram explode). ``carry`` lists extra columns to keep.
    """
    idx = F.when(
        F.size(tka) >= n, F.sequence(F.lit(1), F.size(tka) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    e = staged.select(*carry, F.col(tka), F.explode(idx).alias("__i"))
    gram = F.concat_ws(" ", F.slice(tka, F.col("__i"), n))
    return e.select(*carry, (F.xxhash64(gram) if hashed else gram).alias(out))


def ngrams(text_col: Column | str, n: int) -> Column:
    """Token n-gram array (space-joined windows over whitespace tokens).

    Convenience form over :func:`ngrams_of` — fine for one-shot use, but
    operators stage the token array first (see ngrams_of on why), and
    anything that EXPLODES grams must use :func:`exploded_ngrams`.
    """
    tka = tokens(text_col)
    return F.when(
        F.size(tka) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(tka) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(tka, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def repetition_metrics(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    top_2gram_max: float = 0.2,
    dup_5gram_max: float = 0.3,
) -> DataFrame:
    """Gopher-style repetition quality filters, the standard cheap gate
    before model scoring in a training pipeline:

    - ``top_2gram_frac``: fraction of tokens covered by the single most
      frequent 2-gram (2 · max-count / n_tokens);
    - ``dup_5gram_frac``: fraction of 5-gram occurrences whose gram
      appears more than once;
    - ``keep_repetition``: both under their thresholds.

    Scale shape: explode → count per (doc, gram) → per-doc aggregate.
    Both shuffles are map-side combinable and keyed by (doc, gram) /
    doc, so the operator scales with corpus size, never gram-vocabulary
    size; grams shuffle as xxhash64 longs, not strings (the gram text is
    never output). (A pure higher-order-function form with no shuffle
    exists but is O(tokens²) per document — wrong for long documents.)
    """
    df = _spread_narrow(df)
    staged = df.select(
        F.col(key).alias(key),
        tokens(text).alias("__tka"),
    ).withColumn("__nt", F.size("__tka"))
    c2 = (
        exploded_ngrams(staged, 2, carry=(key,))
        .groupBy(key, "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(key)
        .agg(F.max("c").alias("__m2"))
    )
    c5 = (
        exploded_ngrams(staged, 5, carry=(key,))
        .groupBy(key, "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(key)
        .agg(
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0))).alias("__d5"),
            F.sum("c").alias("__t5"),
        )
    )
    top2 = F.coalesce(
        F.lit(2.0) * F.col("__m2") / F.col("__nt"), F.lit(0.0)
    )
    dup5 = F.coalesce(
        F.col("__d5").cast("double") / F.col("__t5"), F.lit(0.0)
    )
    # n_tokens comes from the document itself, NOT from the 2-gram agg:
    # docs with <2 tokens have no gram rows (hypothesis found the 1-token
    # doc reporting n_tokens=0 through the old carried-column path)
    return (
        staged.select(key, "__nt")
        .join(c2, on=key, how="left")
        .join(c5, on=key, how="left")
        .select(
            key,
            F.col("__nt").alias("n_tokens"),
            F.round(top2, 6).alias("top_2gram_frac"),
            F.round(dup5, 6).alias("dup_5gram_frac"),
            (
                (top2 <= top_2gram_max) & (dup5 <= dup_5gram_max)
            ).alias("keep_repetition"),
        )
    )


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text: str = "text",
    key: str = "doc_id",
) -> DataFrame:
    """Eval-set decontamination: flag corpus documents sharing any token
    n-gram with a benchmark document — the membership test run before a
    corpus ships so evaluation data cannot leak into training.

    The benchmark n-gram set (small: eval suites are thousands of docs)
    is distinct-ed and broadcast; corpus grams explode and semi-join it
    map-side, so the corpus is never shuffled — O(corpus tokens) work,
    one per-doc count aggregation. Grams travel as xxhash64 longs (8-byte
    keys, not ~80-byte strings). Returns every corpus row with
    ``n_hits`` (distinct contaminated grams) and ``contaminated``.
    """
    df = _spread_narrow(df)
    bench_grams = exploded_ngrams(
        benchmark.select(tokens(text).alias("__tka")), n, carry=()
    ).distinct()
    doc_grams = exploded_ngrams(
        df.select(F.col(key).alias(key), tokens(text).alias("__tka")),
        n,
        carry=(key,),
    ).distinct()
    hits = (
        doc_grams.join(F.broadcast(bench_grams), on="g", how="left_semi")
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("__h"))
    )
    return (
        df.select(F.col(key).alias(key))
        .join(hits, on=key, how="left")
        .select(
            key,
            F.coalesce("__h", F.lit(0)).alias("n_hits"),
            (F.coalesce("__h", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def domain_cap(
    df: DataFrame,
    cap: int,
    domain: str = "source",
    key: str = "doc_id",
) -> DataFrame:
    """Per-domain document cap (keep the first ``cap`` docs per source,
    deterministic by key order) — the anti-over-representation control a
    web-scale corpus applies per site/feed.

    One window shuffle keyed by domain; rank order is the document key,
    so the result is engine-portable. Skewed mega-domains sort within
    their own partitions only (no global sort).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(domain).orderBy(F.col(key))
    return (
        df.select(F.col(key).alias(key), F.col(domain).alias(domain))
        .withColumn("rank_in_domain", F.row_number().over(w))
        .filter(F.col("rank_in_domain") <= cap)
    )


def curate(
    df: DataFrame,
    langs: tuple[str, ...] = ("en", "de", "fr"),
    domain_cap_n: int = 10,
    bench_mod: int = 97,
    band_size: int = 4,
    text: str = "text",
    key: str = "doc_id",
) -> DataFrame:
    """The COMPLETE curation pipeline — every gate this engine ships,
    composed the way a production training-data job runs them:

    1. exact dedup        keep the min-key doc per text fingerprint
    2. near-dup dedup     MinHash-LSH → clusters → min-key canonical
    3. quality gate       heuristic score ≥ 0.4
    4. repetition gate    Gopher-style 2-gram / 5-gram thresholds
    5. language allowlist
    6. decontamination    no 8-gram overlap with the benchmark subset
                          (keyed ``key % bench_mod == 0``; benchmark
                          docs themselves are excluded from training)
    7. per-domain cap     first ``domain_cap_n`` survivors per source
    8. materialize        lang/source/quality/n_tokens + the md5 of the
                          PII-scrubbed text (the payload a writer ships)

    Gates 1-6 are evaluated on the raw text and joined on the doc key
    (co-partitioned shuffles; every frame is one row per doc). The cap
    runs LAST, over survivors only — capping before filtering would
    under-fill domains. Scrubbing transforms the payload, not the gate
    inputs, so gate oracles stay composable.
    """
    # NOT _spread_narrow'd at entry: measured 1.3× WORSE wall (same-JVM
    # toggle probe) — the many cheap gate branches each pay the exchange
    # read, while the expensive branch (the pair pipeline inside
    # dedup_clusters) already spreads itself in minhash_lsh_pairs.
    base = df.select(F.col(key).cast("long").alias(key), "lang", "source", text)
    fp = fingerprint(df, text, key)
    canon = fp.groupBy("fp").agg(F.min(key).alias("__canon"))
    exact_keep = (
        fp.join(canon, on="fp")
        .filter(F.col(key) == F.col("__canon"))
        .select(key)
    )
    fuzzy = dedup_clusters(df, band_size=band_size, text=text, key=key).select(
        key, F.col("keep").alias("__kf")
    )
    qual = quality_score(df, text, key).select(
        key, "quality", F.col("keep").alias("__kq")
    )
    rep = repetition_metrics(df, text, key).select(
        key, "n_tokens", F.col("keep_repetition").alias("__kr")
    )
    dec = decontaminate(
        df, df.filter(F.col(key) % bench_mod == 0), text=text, key=key
    ).select(key, F.col("contaminated").alias("__kc"))
    survivors = (
        base.filter(F.col("lang").isin(*langs))
        .filter(F.col(key) % bench_mod != 0)
        .join(exact_keep, on=key, how="left_semi")
        .join(fuzzy, on=key)
        .filter(F.col("__kf"))
        .join(qual, on=key)
        .filter(F.col("__kq"))
        .join(rep, on=key)
        .filter(F.col("__kr"))
        .join(dec, on=key)
        .filter(~F.col("__kc"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(F.col(key))
    return (
        survivors.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= domain_cap_n)
        .select(
            key,
            "lang",
            "source",
            F.round("quality", 6).alias("quality"),
            "n_tokens",
            F.md5(F.encode(scrub_pii(F.col(text)), "UTF-8")).alias("clean_fp"),
        )
    )


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 8,
    band_size: int = 4,
    text: str = "text",
    key: str = "doc_id",
) -> DataFrame:
    """Asymmetric near-dup pairs by SET CONTAINMENT |A∩B| / |A| — the
    relation symmetric jaccard misses: quotations, excerpts, and
    wrapped copies where a small document lives inside a larger one.

    Candidates come from the same MinHash band buckets as the jaccard
    path but WITHOUT the size-ratio prefilter (containment explicitly
    allows very different sizes; LSH recall for small⊂big is reduced —
    at production scale add rare-token blocking for the long tail).
    Each unordered candidate verifies BOTH directions over 60-bit token
    hashes.

    Output: (contained, container, containment) rows, one per direction
    clearing the threshold.
    """
    toksets, bands = _lsh_side(df, num_hashes, band_size, text, key)
    # band_candidates without the size-ratio prefilter: first-matching-band
    # dedup, no pair distinct exchange.
    cands = band_candidates(bands, None, key=key)
    # Verify ONCE per unordered candidate, then fan out to the two
    # directions from the already-computed intersection size. The naive
    # form — ab.union(ba) over a shared `scored` frame — duplicates the
    # ENTIRE candidate pipeline (band join + distinct + verify joins) in
    # the physical plan, and any filter over the staged intersect gets
    # pushed into the verify-join CONDITION, re-evaluating the intersect
    # per reference (4 array_intersects + 2 candidate shuffles per pair,
    # measured 4× CPU at sf0.1). The _verify_barrier Generate keeps the
    # subtree single and the intersect at exactly one evaluation; both
    # direction structs reference the staged __i as a cheap bound column.
    scored = (
        cands.join(
            toksets.select(F.col("__k").alias("doc_a"), F.col("__toks").alias("ta")),
            on="doc_a",
        )
        .join(
            toksets.select(F.col("__k").alias("doc_b"), F.col("__toks").alias("tb")),
            on="doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            _intersect_size("ta", "tb").alias("__i"),
            F.size("ta").alias("__la"),
            F.size("tb").alias("__lb"),
        )
    )
    both = _verify_barrier(
        scored,
        F.struct(
            F.col("doc_a").alias("contained"),
            F.col("doc_b").alias("container"),
            (F.col("__i").cast("double") / F.col("__la")).alias("containment"),
        ),
        F.struct(
            F.col("doc_b").alias("contained"),
            F.col("doc_a").alias("container"),
            (F.col("__i").cast("double") / F.col("__lb")).alias("containment"),
        ),
    )
    return both.filter(F.col("containment") >= threshold).select(
        "contained", "container", F.round("containment", 6).alias("containment")
    )


def duplicate_spans(
    df: DataFrame,
    window: int = 8,
    text: str = "text",
    key: str = "doc_id",
) -> DataFrame:
    """Substring-level (span) duplication detection: for each document,
    the fraction of its tokens covered by some ``window``-token run that
    appears VERBATIM in at least one other document.

    The fixed-width windowed-hash variant of suffix-array substring
    dedup (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"): a suffix array finds duplicated substrings of any
    length ≥ L with one global index structure; hashing every L-token
    window finds the same spans for fixed L as a pure dataflow — three
    shuffles at any corpus size, no global index:

    1. map-only: explode window start positions, hash each window
       (gram built AFTER the Generate — see exploded_ngrams on the
       Catalyst inlining trap);
    2. groupBy window-hash, keep hashes seen in ≥2 DISTINCT docs
       (count_distinct over a (hash, doc) pre-distinct — both shuffles
       map-side combinable);
    3. equi-join the dup hashes back and merge each doc's overlapping
       fixed-width intervals into maximal spans.

    Interval union without a per-doc sort shuffle: starts are sorted
    in-array, width is constant so interval ends are monotone, and each
    start contributes ``min(window, next_start - start)`` (the last one
    ``window``) — a zip_with over the sorted start list inside the
    per-doc aggregate.

    Returns (key, n_tokens, dup_windows, dup_token_frac) for EVERY input
    document (0 / 0.0 when nothing is duplicated — silent row loss at
    ingest scale is the bug class simhash16 once had).

    Scale: shuffle keys are xxhash64 longs (8 bytes); the window
    explosion multiplies rows by ~tokens-per-doc — the same envelope as
    the n-gram quality gates. At 100 TB swap the per-window concat_ws
    hash for a rolling polynomial hash (O(1)/window instead of
    O(window)); the dataflow shape is unchanged.
    """
    w = int(window)
    assert w >= 2, "window must be ≥ 2 tokens"
    staged = df.select(F.col(key), tokens(text).alias("__tka")).withColumn(
        "__nt", F.size("__tka").cast("long")
    )
    # (key, pos, wh): one row per window start; exploded_ngrams builds the
    # gram after the Generate but does not expose the position, so inline
    # its explode-then-build shape here with the index kept.
    idx = F.when(
        F.size("__tka") >= w, F.sequence(F.lit(1), F.size("__tka") - (w - 1))
    ).otherwise(F.array().cast("array<int>"))
    wins = staged.select(F.col(key), F.col("__tka"), F.explode(idx).alias("pos")).select(
        F.col(key),
        F.col("pos"),
        F.xxhash64(F.concat_ws(" ", F.slice("__tka", F.col("pos"), w))).alias("wh"),
    )
    dup = (
        wins.groupBy("wh")
        .agg(F.count_distinct(F.col(key)).alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("wh")
    )
    hits = wins.join(dup, on="wh").select(F.col(key), F.col("pos"))
    ps = F.sort_array(F.collect_list("pos"))
    per = hits.groupBy(key).agg(
        F.count(F.lit(1)).alias("dup_windows"),
        ps.alias("__ps"),
    )
    n = F.size("__ps")
    gaps = F.zip_with(
        F.slice("__ps", 1, n - 1),
        F.slice("__ps", 2, n - 1),
        lambda a, b: F.least(F.lit(w), b - a),
    )
    covered = (
        F.aggregate(gaps, F.lit(0), lambda acc, x: acc + x) + F.lit(w)
    ).cast("long")
    per = per.select(key, "dup_windows", covered.alias("__cov"))
    return (
        staged.select(key, "__nt")
        .join(per, on=key, how="left")
        .select(
            key,
            F.col("__nt").alias("n_tokens"),
            F.coalesce("dup_windows", F.lit(0).cast("long")).alias("dup_windows"),
            F.round(
                F.coalesce(
                    F.col("__cov").cast("double") / F.col("__nt"), F.lit(0.0)
                ),
                6,
            ).alias("dup_token_frac"),
        )
    )


def pack_sequences(
    df: DataFrame,
    capacity: int = 512,
    buckets: int = 8,
    text: str = "text",
    key: str = "doc_id",
) -> DataFrame:
    """Token-budget sequence packing: assign documents to fixed-capacity
    training packs (the pre-tokenization step that turns a curated corpus
    into ~capacity-token training sequences).

    Deterministic two-level scheme that needs NO global order: documents
    are hashed (portable md5) into ``buckets`` independent packing
    streams; within a stream documents are ordered by key, the
    concatenated token stream is chopped every ``capacity`` tokens, and a
    document belongs to the pack where its FIRST token lands. One window
    cumsum per bucket — parallelism = buckets, never a single-task global
    window; at 100 TB set buckets ≈ shuffle partitions and each stream
    packs independently. (True first-fit bin packing is inherently
    sequential; bin-of-first-token over a hashed stream is the standard
    deterministic surrogate and within one straddling doc per boundary of
    optimal fill.)

    Returns one row per document: (key, n_tok, bucket, pack_id,
    pack_pos) where pack_pos is the token offset of the document inside
    its bucket stream.
    """
    from pyspark.sql import Window

    cap = int(capacity)
    d = df.select(
        F.col(key),
        token_count(text).cast("long").alias("n_tok"),
        (_hash60(F.col(key).cast("string")) % buckets).alias("bucket"),
    )
    win = Window.partitionBy("bucket").orderBy(key)
    start = (F.sum("n_tok").over(win) - F.col("n_tok")).alias("pack_pos")
    d = d.select(key, "n_tok", "bucket", start)
    return d.select(
        key,
        "n_tok",
        "bucket",
        F.floor(F.col("pack_pos") / cap).cast("long").alias("pack_id"),
        "pack_pos",
    )


def epoch_shuffle(
    df: DataFrame,
    epochs: int = 2,
    n_shards: int = 8,
    key: str = "doc_id",
) -> DataFrame:
    """Deterministic per-epoch training-order shuffle + shard assignment
    — the dataloader-reproducibility primitive: for each epoch, every
    document gets a 60-bit portable hash of (epoch, key) (first 15 hex
    digits of md5 — the :func:`_hash60` recipe, so DuckDB replays it
    bit-for-bit), its shard is ``hash % n_shards`` and its position
    within the shard is the hash-order rank. The result is a seeded,
    engine-independent permutation per epoch: re-running the job — on a
    different cluster, partitioning, or engine — materializes the SAME
    training order, which rand()-based shuffles cannot promise, and two
    epochs never share an order (the epoch salts the hash).

    Scale: ONE hash-partition-by-(epoch, shard) + in-partition sort per
    epoch — exactly the physical job that writes a 100 TB corpus as
    n_shards dataloader files per epoch; no global sort, no driver
    participation, and shard sizes concentrate tightly around n/n_shards
    (binomial balance — audited by the registered row's law test).

    Returns (epoch int, key, shard int, pos long) — ``pos`` is 1-based
    within (epoch, shard)."""
    from pyspark.sql import Window

    if epochs < 1 or n_shards < 1:
        # epochs=0 would silently emit an empty schedule and n_shards=0
        # a runtime modulo error mid-job — fail at the API boundary.
        raise ValueError(
            f"epoch_shuffle: epochs ({epochs}) and n_shards ({n_shards})"
            " must be >= 1"
        )
    ep = df.select(
        F.col(key),
        F.explode(F.array(*[F.lit(e) for e in range(epochs)])).alias("epoch"),
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.encode(
                    F.concat_ws(
                        "|",
                        F.col("epoch").cast("string"),
                        F.col(key).cast("string"),
                    ),
                    "UTF-8",
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    d = ep.select(
        "epoch", key, h.alias("__h"), (h % n_shards).cast("int").alias("shard")
    )
    win = Window.partitionBy("epoch", "shard").orderBy("__h", key)
    return d.select(
        "epoch", key, "shard", F.row_number().over(win).cast("long").alias("pos")
    )


def minhash_lsh_pairs_between(
    left_df: DataFrame,
    right_df: DataFrame,
    num_hashes: int = 8,
    band_size: int = 2,
    jaccard_threshold: float = 0.7,
    text: str = "text",
    key: str = "doc_id",
) -> DataFrame:
    """Near-duplicate pairs BETWEEN two corpora (left probe × right
    corpus) — the incremental-ingest form of minhash_lsh_pairs.

    Identical banding/prefilter/verify, but candidates come from the
    left bands equi-joined against the right bands only: a nightly batch
    is checked against the standing corpus in O(batch candidates),
    never re-pairing corpus×corpus. At 100 TB the right side's band
    frame is the MATERIALIZED bucketed table (see minhash_bands) — the
    probe join is then zero-exchange on the corpus side.

    Returns (doc_a ∈ left, doc_b ∈ right, jaccard ≥ threshold). Callers
    must ensure the two key spaces are disjoint (or accept self-pairs).
    """
    toks_l, bands_l = _lsh_side(left_df, num_hashes, band_size, text, key)
    toks_r, bands_r = _lsh_side(right_df, num_hashes, band_size, text, key)
    cands = _band_probe(
        *_band_sides(bands_l, bands_r, key), jaccard_threshold
    ).select("doc_a", "doc_b")
    return _jaccard_verify(cands, toks_l, toks_r, jaccard_threshold)


def streaming_neardup_screen(
    stream: DataFrame,
    corpus: DataFrame,
    num_hashes: int = 8,
    band_size: int = 4,
    jaccard_threshold: float = 0.7,
    text: str = "text",
    key: str = "doc_id",
    event_time: str | None = None,
    watermark_delay: str = "10 seconds",
    stage: Stage | None = None,
) -> DataFrame:
    """Near-dup screening of a LIVE document stream against a FROZEN
    corpus index — :func:`minhash_lsh_pairs_between` with the probe side
    arriving as a stream: each incoming document computes its MinHash
    signatures, hashed token set and band buckets in ONE map-side
    projection, probes the standing corpus's band table through a STREAM-STATIC
    equi-join on (band, bucket), passes the size-ratio prefilter, and
    exact-jaccard-verifies against the corpus token sets — the
    crawl-ingest front door: every new document is screened against the
    whole standing corpus at ingest, never a corpus x corpus pass.

    The same code as the batch form (one signature and band projection,
    candidate step and verify tail — :func:`_signatures`,
    :func:`_band_probe`, :func:`_jaccard_tail`), so
    streaming ≡ batch bit-for-bit whatever the microbatch boundaries —
    each pair's verdict depends only on its own two token sets. The
    final dropDuplicates collapses multi-band hits; its state is one row
    per EMITTED pair (each stream doc arrives once, so pairs never recur
    across batches).

    ``event_time`` names a timestamp column on the stream and switches
    the pair dedup to ``dropDuplicatesWithinWatermark`` under a
    ``watermark_delay`` watermark — the UNBOUNDED-ingest form: pair
    state is EVICTED once the watermark passes a pair's event time,
    so state holds only the in-flight horizon instead of every pair
    ever emitted. Result-identical to the unbounded dedup for ANY
    delay ≥ 0 (law-pinned in tests/test_wave44.py): a document's
    multi-band duplicate hits all derive from its single arrival row,
    so they land in the SAME microbatch and carry the SAME event time —
    no duplicate can straddle the watermark. The emitted column set is
    unchanged (the event-time column is internal to the dedup).

    Returns (doc_a ∈ stream, doc_b ∈ corpus, jaccard ≥ threshold).
    Scale: stream-side cost is a pure map per micro-batch; the corpus
    side is the MATERIALIZED band table (bucketed by (band, bucket) —
    the q_dedup_minhash_layout posture) plus token sets reached only
    for surviving candidates."""
    if event_time is not None and event_time not in stream.columns:
        # A typo'd event-time column would otherwise surface as an
        # unresolved-attribute error deep inside the dedup plan — fail
        # loudly at the API boundary (house fail-loudly discipline).
        raise ValueError(
            f"streaming_neardup_screen: event_time column {event_time!r}"
            f" not in stream schema {stream.columns}"
        )
    carry = (event_time,) if event_time is not None else ()
    verified = neardup_screen_events(
        stream,
        corpus,
        num_hashes=num_hashes,
        band_size=band_size,
        jaccard_threshold=jaccard_threshold,
        text=text,
        key=key,
        carry=carry,
        stage=stage,
    )
    if event_time is None:
        return verified.dropDuplicates(["doc_a", "doc_b"])
    return (
        verified.withWatermark(event_time, watermark_delay)
        .dropDuplicatesWithinWatermark(["doc_a", "doc_b"])
        .drop(event_time)
    )


def neardup_corpus_artifacts(
    corpus: DataFrame,
    num_hashes: int = 8,
    band_size: int = 4,
    text: str = "text",
    key: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """The STANDING corpus artifacts behind the near-dup screen,
    factored out so they can be maintained incrementally: returns
    ``(toks, bands)`` — toks = (doc_b, tb hashed-token-set), bands =
    (doc_b, nb, band, bucket), exactly the two static sides
    :func:`neardup_screen_events` probes. Absorbing an admitted wave is
    an O(wave) APPEND on both frames (``unionByName`` with the wave's
    own artifacts — fingerprint selection never crosses documents), so
    the standing corpus is never re-hashed; at 100 TB these are the
    bucketed band/token TABLES the screens join against."""
    toks, bands = _lsh_side(corpus, num_hashes, band_size, text, key)
    return (
        toks.select(F.col("__k").alias("doc_b"), F.col("__toks").alias("tb")),
        bands.select(
            F.col(key).alias("doc_b"), F.col("__n").alias("nb"), "band", "bucket"
        ),
    )


def _stage_static(stage: Stage, stream: DataFrame, *frames: DataFrame):
    """Persist a screen's corpus artifacts DISK_ONLY into ``stage`` and
    return them. DISK_ONLY: in-heap pins accumulated across queries OOM
    a 1g driver (the round driver's session runs with default memory).
    On a streaming probe side they are built NOW, at the session's batch
    width: left lazy they materialize inside micro-batch 0 after the
    stream runner has clamped shuffle partitions to the state width, and
    the whole corpus hash runs serialized there (optimization round 12,
    measured; see streaming.force_pins)."""
    from pyspark.storagelevel import StorageLevel

    from incubator_flink_old_spark import streaming

    pinned = stage.keep(*(f.persist(StorageLevel.DISK_ONLY) for f in frames))
    if stream.isStreaming:
        streaming.force_pins(*frames)
    return pinned


def neardup_screen_events(
    stream: DataFrame,
    corpus: DataFrame,
    num_hashes: int = 8,
    band_size: int = 4,
    jaccard_threshold: float = 0.7,
    text: str = "text",
    key: str = "doc_id",
    carry: tuple[str, ...] = (),
    stage: Stage | None = None,
    corpus_artifacts: "tuple[DataFrame, DataFrame] | None" = None,
) -> DataFrame:
    """The PRE-DEDUP verified match events under
    :func:`streaming_neardup_screen` — identical map-side signatures,
    band probe, size-ratio prefilter and exact-jaccard verify, WITHOUT
    the final pair dedup (a pair hit in m bands emits up to m duplicate
    rows). Factored out so composers with duplicate-INSENSITIVE
    downstream semantics (:func:`streaming_ingest_gate`'s existence-MAX
    verdict) can consume the screen with ZERO stateful operators of
    their own — the wrapper keeps the deduped pair contract. ``carry``
    names stream columns passed through each event (e.g. the ingest
    event time). Returns (doc_a, *carry, doc_b, jaccard ≥ threshold).

    A ``stage`` (:func:`~incubator_flink_old_spark.session.staged`)
    takes the corpus artifacts (band table + hashed token sets) persisted
    DISK_ONLY, built at once on a streaming probe side: a stream-static
    join re-evaluates an unpinned static PLAN every micro-batch (measured:
    the dominant cost of the multi-batch parity rows). At 100 TB these are
    standing bucketed TABLES; batch callers pass none.

    ``corpus_artifacts=(toks, bands)`` supplies PRECOMPUTED standing
    artifacts (:func:`neardup_corpus_artifacts`, possibly appended with
    an admitted wave's delta — the N-wave absorb path) instead of
    deriving them from ``corpus``; ``corpus`` is then unused and the
    caller pins the supplied frames."""
    if num_hashes % band_size != 0:
        # ValueError BEFORE any artifact construction (review finding):
        # a bare assert here was stripped under python -O, and placed
        # after the persists an invalid config leaked the just-persisted
        # corpus artifacts on failure.
        raise ValueError(
            f"neardup_screen_events: num_hashes ({num_hashes}) must be a"
            f" multiple of band_size ({band_size})"
        )
    if corpus_artifacts is not None:
        # Maintained-index form: the caller supplies the standing corpus
        # artifacts (possibly an O(wave) append-merge of frozen tables
        # with a delta batch — the absorb path) and pins them itself.
        toks_r, bands_r = corpus_artifacts
    else:
        toks_r, bands_r = neardup_corpus_artifacts(
            corpus, num_hashes=num_hashes, band_size=band_size,
            text=text, key=key,
        )
        if stage is not None:
            toks_r, bands_r = _stage_static(stage, stream, toks_r, bands_r)
    # The stream side is the batch screen's own projection and candidate
    # step over each micro-batch (the corpus bands carry no bucket array,
    # so multi-band hits are left to the caller's dedup).
    probe = ["doc_a", *carry, "ta"]
    staged = stream.select(
        F.col(key).alias("doc_a"), *carry, tokens(text, distinct=True).alias("__dt")
    )
    sigs = _signatures(
        staged,
        ["doc_a", *carry, _hashed_set(F.col("__dt")).alias("ta")],
        num_hashes,
    )
    srows = _band_rows(sigs, probe, num_hashes, band_size).select(
        *probe, F.col("__n").alias("na"), "band", "bucket"
    )
    cand = _band_probe(srows, bands_r, jaccard_threshold, first_band=False)
    return _jaccard_tail(
        cand.join(toks_r, on="doc_b"),
        ["doc_a", *carry, "doc_b"],
        "ta",
        "tb",
        jaccard_threshold,
    )


def incremental_dedup(
    df: DataFrame,
    split_mod: int = 5,
    num_hashes: int = 8,
    band_size: int = 4,
    jaccard_threshold: float = 0.7,
    text: str = "text",
    key: str = "doc_id",
) -> DataFrame:
    """Incremental-ingest dedup decision: treat a deterministic
    ~1/split_mod hash slice of ``df`` as the NEW batch and the rest as
    the standing corpus, and classify every new document as

    - ``exact_dup``  — normalized text already in the corpus
      (fingerprint semi-join);
    - ``near_dup``   — MinHash-LSH jaccard ≥ threshold with ≥1 corpus
      doc (minhash_lsh_pairs_between: candidates are new×corpus ONLY);
    - ``keep``       — novel content.

    This is the nightly-ingest pattern at 100 TB: the corpus side's
    fingerprints and band buckets are precomputed, bucketed tables; each
    new batch probes them in O(batch) with no corpus×corpus work. The
    hash split here stands in for the batch boundary so the whole
    decision is replayable by a SQL oracle.

    Returns (key, verdict) for every NEW-batch document (exact wins over
    near when both hold).
    """
    h = _hash60(F.col(key).cast("string")) % split_mod
    flagged = df.withColumn("__new", h == 0)
    new_df = flagged.filter(F.col("__new")).drop("__new")
    corpus = flagged.filter(~F.col("__new")).drop("__new")
    fp_corpus = fingerprint(corpus, text, key).select("fp").distinct()
    exact_ids = (
        fingerprint(new_df, text, key)
        .join(fp_corpus, on="fp", how="left_semi")
        .select(F.col(key), F.lit(1).alias("__e"))
    )
    near_ids = (
        minhash_lsh_pairs_between(
            new_df, corpus, num_hashes, band_size, jaccard_threshold, text, key
        )
        .select(F.col("doc_a").alias(key))
        .distinct()
        .withColumn("__nr", F.lit(1))
    )
    return (
        new_df.select(key)
        .join(exact_ids, on=key, how="left")
        .join(near_ids, on=key, how="left")
        .select(
            key,
            F.when(F.col("__e") == 1, F.lit("exact_dup"))
            .when(F.col("__nr") == 1, F.lit("near_dup"))
            .otherwise(F.lit("keep"))
            .alias("verdict"),
        )
    )


def fuzzy_pairs(
    df: DataFrame,
    key: str = "p_partkey",
    name: str = "p_name",
    max_dist: int = 4,
    bucket_width: int = 4,
) -> DataFrame:
    """Fuzzy record linkage: blocked edit-distance join over DISTINCT
    names — catalog/entity dedup where values differ by typos or small
    word swaps rather than exact duplication.

    The scalable shape, in order:
      1. Collapse rows to (name, count, min-key representative) FIRST —
         real catalogs carry huge exact-duplicate groups, and pairing at
         the row level would be O(dups²) per group. Exact duplicates are
         `exact_dedup`'s job; this operator only ever compares distinct
         strings.
      2. Block candidates with an EQUI-join key (first token, length
         bucket). One side explodes to adjacent buckets {b-1, b, b+1};
         since ``bucket_width >= max_dist``, an edit within ``max_dist``
         can never move a string more than one bucket, so no qualifying
         pair is lost to bucketing. First-token blocking is the standard
         recall trade-off (an edit inside the first token escapes the
         block) — documented, deterministic.
      3. Verify with ``levenshtein(a, b, max_dist)`` — the thresholded
         form early-exits the DP row once the bound is exceeded, O(max_dist
         × len) instead of O(len²) per candidate.

    At 100 TB the block key (token, bucket) is the shuffle key; block
    sizes track vocabulary frequency, so a frequency cap / secondary
    block key (e.g. second token) bounds the worst block — same policy
    as LSH band caps.

    Output: (name_a, name_b, rep_a, rep_b, cnt_a, cnt_b, dist), name_a <
    name_b, dist <= max_dist.
    """
    if bucket_width < max_dist:
        raise ValueError("bucket_width must be >= max_dist for ±1-bucket probing")
    names = df.groupBy(F.col(name).alias("name")).agg(
        F.count("*").alias("cnt"), F.min(key).alias("rep")
    )
    base = names.select(
        "name",
        "cnt",
        "rep",
        F.element_at(F.split(F.lower("name"), r"\s+"), 1).alias("blk"),
        F.floor(F.length("name") / bucket_width).alias("b"),
    )
    probe = base.select(
        F.col("name").alias("name_a"),
        F.col("cnt").alias("cnt_a"),
        F.col("rep").alias("rep_a"),
        "blk",
        F.explode(
            F.array(F.col("b") - 1, F.col("b"), F.col("b") + 1)
        ).alias("b"),
    )
    build = base.select(
        F.col("name").alias("name_b"),
        F.col("cnt").alias("cnt_b"),
        F.col("rep").alias("rep_b"),
        "blk",
        "b",
    )
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"), max_dist)
    return (
        probe.join(build, on=["blk", "b"])
        .filter(F.col("name_a") < F.col("name_b"))
        .select(
            "name_a",
            "name_b",
            "rep_a",
            "rep_b",
            "cnt_a",
            "cnt_b",
            dist.alias("dist"),
        )
        .filter(F.col("dist") >= 0)
    )


def _word_vocab(df: DataFrame, text: str) -> DataFrame:
    """Corpus → (word, count) vocabulary. Grouping to the vocabulary FIRST
    is what makes BPE-style training feasible at 100 TB: every subsequent
    pass scales with |vocab|, not corpus tokens."""
    return (
        df.select(F.explode(tokens(text)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )


def bpe_pair_counts(df: DataFrame, text: str = "text", top_n: int = 20) -> DataFrame:
    """Adjacent character-pair frequencies over the word vocabulary — the
    inner statistic of BPE tokenizer training (its round-0 form, where
    every symbol is still a single character). Pairs are weighted by word
    frequency; ties broken by pair text so the top-N is deterministic.

    Output: (pair, cnt) — the ``top_n`` most frequent pairs.
    """
    vocab = _word_vocab(df, text)
    pairs = vocab.filter(F.length("w") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "c",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("c").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(top_n)
    )


def _merge_adjacent(s: Column, a: str, b: str) -> Column:
    """Replace every adjacent (a, b) symbol pair in ``s`` with the merged
    symbol a+b, greedy left-to-right — one F.aggregate pass carrying a
    single pending symbol (JVM-side, no Python per row)."""
    acc0 = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("pend"),
    )

    def step(acc, x):
        take = (
            acc["pend"].isNotNull()
            & (acc["pend"] == F.lit(a))
            & (x == F.lit(b))
        )
        out = (
            F.when(take, F.concat(acc["out"], F.array(F.lit(a + b))))
            .when(
                acc["pend"].isNotNull(),
                F.concat(acc["out"], F.array(acc["pend"])),
            )
            .otherwise(acc["out"])
        )
        pend = F.when(take, F.lit(None).cast("string")).otherwise(x)
        return F.struct(out.alias("out"), pend.alias("pend"))

    def fin(acc):
        return F.when(
            acc["pend"].isNotNull(), F.concat(acc["out"], F.array(acc["pend"]))
        ).otherwise(acc["out"])

    return F.aggregate(s, acc0, step, fin)


def bpe_learn(
    df: DataFrame, text: str = "text", num_merges: int = 8
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Learn ``num_merges`` BPE merges over the corpus.

    The vocabulary (word → frequency) is built once and stays
    distributed as symbol arrays; each round counts adjacent symbol
    pairs (weighted by word frequency, combinable partial sums), pulls
    ONE (pair, count) scalar to the driver — the same bounded
    driver-finish contract as k-means convergence — and rewrites the
    arrays with a JVM-side aggregate pass. Ties break on (count desc,
    pair asc) so the learned merge list is deterministic.

    Returns (merges, vocab_df) where vocab_df is (w, c, syms) after all
    merges — the segmentation a tokenizer would ship.
    """
    vocab = _word_vocab(df, text).select(
        "w",
        "c",
        F.transform(
            F.sequence(F.lit(1), F.length("w")),
            lambda i: F.col("w").substr(i, F.lit(1)),
        ).alias("syms"),
    )
    cur = vocab.localCheckpoint(eager=True)
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        top = (
            cur.filter(F.size("syms") >= 2)
            .select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("syms") - 1),
                        lambda i: F.struct(
                            F.element_at("syms", i).alias("a"),
                            F.element_at("syms", i + F.lit(1)).alias("b"),
                        ),
                    )
                ).alias("p"),
                "c",
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("c").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        nxt = cur.withColumn("syms", _merge_adjacent(F.col("syms"), a, b))
        nxt = nxt.localCheckpoint(eager=True)
        release(cur)  # the merge round it replaced
        cur = nxt
    return merges, cur


def cluster_representatives(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    band_size: int = 4,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Quality-aware canonical selection: near-dup clusters (MinHash-LSH →
    connected components, `dedup_clusters`) keep their HIGHEST-quality
    member instead of the arbitrary min-id — the curation policy real
    pipelines want (keep the cleanest copy, drop its mirrors).

    One extra broadcast-sized shuffle over `dedup_clusters`: the window
    ranks within cluster_id, and cluster sizes are bounded by the near-dup
    group structure (not corpus size). Tie-break (quality desc, key asc)
    is deterministic and replays on any engine.

    Output: (key, cluster_id, quality, is_rep) for every document.
    """
    from pyspark.sql import Window

    clusters = dedup_clusters(
        df, pairs=pairs, text=text, key=key, band_size=band_size
    ).select(key, "cluster_id")
    q = quality_score(df, text=text, key=key).select(key, "quality")
    w = Window.partitionBy("cluster_id").orderBy(F.col("quality").desc(), F.col(key))
    return (
        clusters.join(q, on=key)
        .withColumn("__rn", F.row_number().over(w))
        .select(
            key,
            "cluster_id",
            "quality",
            (F.col("__rn") == 1).alias("is_rep"),
        )
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    key: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Dataset-version diff: classify every document as added / removed /
    changed / unchanged between two corpus snapshots — the audit step
    between training-data releases.

    One full-outer equi-join on the document key, comparing md5 content
    fingerprints (never the payloads — at 100 TB the texts stay in place
    and only 32-byte digests shuffle). Emits one row per key in either
    version.
    """
    fp = lambda c: F.md5(F.coalesce(F.col(c), F.lit("")))  # noqa: E731
    o = old.select(F.col(key), fp(text).alias("__fp_old"))
    n = new.select(F.col(key), fp(text).alias("__fp_new"))
    status = (
        F.when(F.col("__fp_old").isNull(), F.lit("added"))
        .when(F.col("__fp_new").isNull(), F.lit("removed"))
        .when(F.col("__fp_old") != F.col("__fp_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        o.join(n, on=key, how="full_outer")
        .select(key, status.alias("status"))
    )


def source_overlap(
    df: DataFrame,
    n: int = 8,
    text: str = "text",
    source: str = "source",
) -> DataFrame:
    """Cross-subcorpus contamination matrix: for every pair of sources,
    the number of distinct ``n``-gram fingerprints they share and the
    overlap coefficient shared/min(|A|,|B|) — the release-audit view of
    "how much of source A leaked into source B".

    Shape: distinct (source, gram-md5) rows — one explode + one distinct
    shuffle — then a self-equi-join ON THE GRAM. Gram frequency across
    sources is bounded by |sources| (the join key's fan-out is at most
    sources², not corpus size), so the join cannot quadratically blow up
    the way a doc-level gram join would. Totals per source ride the same
    distinct-gram frame.
    """
    staged = df.select(F.col(source).alias("src"), tokens(text).alias("__tka"))
    grams = (
        exploded_ngrams(staged, n, carry=("src",), hashed=False, out="g")
        .select("src", F.md5("g").alias("gh"))
        .distinct()
    )
    totals = grams.groupBy("src").agg(F.count("*").alias("n_grams"))
    a = grams.select(F.col("src").alias("source_a"), "gh")
    b = grams.select(F.col("src").alias("source_b"), "gh")
    shared = (
        a.join(b, on="gh")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("shared_grams"))
    )
    ta = totals.select(F.col("src").alias("source_a"), F.col("n_grams").alias("na"))
    tb = totals.select(F.col("src").alias("source_b"), F.col("n_grams").alias("nb"))
    return (
        shared.join(F.broadcast(ta), on="source_a")
        .join(F.broadcast(tb), on="source_b")
        .select(
            "source_a",
            "source_b",
            "shared_grams",
            F.round(
                F.col("shared_grams") / F.least("na", "nb"), 6
            ).alias("overlap_coef"),
        )
    )


def tokenize_ids(
    df: DataFrame,
    vocab_size: int = 1000,
    max_len: int = 64,
    text: str = "text",
    key: str = "doc_id",
) -> DataFrame:
    """Tokenizer APPLICATION: map each document's first ``max_len``
    tokens to integer ids from a frequency-built vocabulary (rank by
    count desc, token asc; OOV → 0) — the corpus→token-ids step that
    feeds sequence packing.

    The vocabulary is a bounded TakeOrderedAndProject (top
    ``vocab_size``) broadcast onto the exploded prefix; encoded ids
    reassemble position-sorted (join order never matters) and emit as a
    CSV string so the result is driver-canonicalizable. Corpus scan →
    one explode of at most ``max_len`` rows/doc → broadcast join → one
    groupBy(key): a single shuffle keyed by doc.
    """
    from pyspark.sql import Window

    toks = tokens(text)
    vocab = (
        df.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "tok")
        .limit(vocab_size)
        .select(
            "tok",
            F.row_number()
            .over(Window.orderBy(F.col("c").desc(), F.col("tok")))
            .alias("tok_id"),
        )
    )
    pos = df.select(
        F.col(key), F.posexplode(F.slice(toks, 1, max_len)).alias("pos", "tok")
    )
    enc = (
        pos.join(F.broadcast(vocab), on="tok", how="left")
        .groupBy(key)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("pos", F.coalesce("tok_id", F.lit(0)).alias("id"))
                )
            ).alias("pi")
        )
        .select(
            key,
            F.array_join(F.transform("pi", lambda s: s["id"]), ",").alias("ids"),
            F.size("pi").alias("n_ids"),
        )
    )
    return (
        df.select(key)
        .join(enc, on=key, how="left")
        .select(
            key,
            F.coalesce("ids", F.lit("")).alias("ids"),
            F.coalesce("n_ids", F.lit(0)).alias("n_ids"),
        )
    )


def template_dedup(df: DataFrame, text: str = "text", key: str = "doc_id") -> DataFrame:
    """Boilerplate/template detection: a STRUCTURAL fingerprint — digit
    runs collapsed to '#', whitespace collapsed, lowercased — groups
    documents that are the same template with different fill-ins (serial
    numbers, dates, ids), the duplication class exact hashing misses and
    MinHash only partially catches.

    One hash groupBy (same scale shape as exact_dedup); emits only docs
    in template groups of ≥ 2 with the min-key member as template id.
    """
    fp = F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(
                    F.lower(F.coalesce(F.col(text), F.lit(""))), "[0-9]+", "#"
                ),
                r"\s+",
                " ",
            )
        )
    )
    base = df.select(F.col(key), fp.alias("tpl_fp"))
    groups = (
        base.groupBy("tpl_fp")
        .agg(F.count("*").alias("group_size"), F.min(key).alias("template_id"))
        .filter(F.col("group_size") >= 2)
    )
    return base.join(groups, on="tpl_fp").select(key, "template_id", "group_size")


def resolve_entities(
    df: DataFrame,
    key: str = "p_partkey",
    name: str = "p_name",
    max_dist: int = 4,
) -> DataFrame:
    """End-to-end entity resolution: `fuzzy_pairs` similarity edges →
    connected components (the G2 delta-iteration operator) → one entity
    id per name group (min representative key; singletons resolve to
    themselves) — the linkage DECISION, composed from the engine's own
    primitives exactly like `dedup_clusters` composes MinHash + CC.

    Scale shape: the component graph has one node per DISTINCT name that
    appears in a fuzzy pair — a vanishing fraction of rows — so the
    components solve via `components_partial`'s finish-small union-find
    (or distributed delta iteration past 500k edges) while the corpus
    itself is only touched by the initial distinct-name collapse.
    """
    names = df.groupBy(F.col(name).alias("name")).agg(F.min(key).alias("rep"))
    edges = fuzzy_pairs(df, key=key, name=name, max_dist=max_dist).select(
        F.col("rep_a").alias("src"), F.col("rep_b").alias("dst")
    )
    comp = components_partial(df.sparkSession, edges)
    return (
        names.join(comp, names["rep"] == comp["id"], "left")
        .select(
            "name",
            "rep",
            F.coalesce(F.col("component"), F.col("rep")).alias("entity_id"),
        )
    )


def k_anonymity(
    df: DataFrame, quasi: tuple[str, ...], k: int = 5
) -> DataFrame:
    """Privacy release audit: group sizes over a quasi-identifier tuple,
    flagging equivalence classes smaller than ``k`` (the rows a k-anonymity
    policy would require generalizing or suppressing before the dataset
    ships).

    One hash groupBy over the quasi columns — combinable counts, the
    exact_dedup scale shape.
    """
    return (
        df.groupBy(*quasi)
        .agg(F.count("*").alias("class_size"))
        .withColumn("k_ok", F.col("class_size") >= F.lit(k))
    )


def l_diversity(
    df: DataFrame, quasi: tuple[str, ...], sensitive: str, l: int = 3
) -> DataFrame:
    """The audit k-anonymity alone misses: an equivalence class can be
    large (k_ok) yet carry only ONE sensitive value — releasing it still
    discloses that value for everyone in the class (the homogeneity
    attack). Per quasi-identifier class, the number of DISTINCT
    sensitive values and the ``l``-diversity policy flag; classes below
    ``l`` are the generalize-or-suppress worklist.

    Same scale shape as :func:`k_anonymity` — one hash groupBy over the
    quasi columns; count_distinct is partial-aggregated (per-partition
    distinct sets, merged digests), never a row shuffle of the class.
    """
    return (
        df.groupBy(*quasi)
        .agg(
            F.count("*").alias("class_size"),
            F.countDistinct(sensitive).alias("n_sensitive"),
        )
        .withColumn("l_ok", F.col("n_sensitive") >= F.lit(l))
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 3,
    w: int = 4,
    text: str = "text",
    key: str = "doc_id",
    carry: tuple[str, ...] = (),
    hashes_only: bool = False,
) -> DataFrame:
    """ROBUST WINNOWING (the MOSS fingerprint-selection scheme):
    per document, hash every k-token shingle (portable 60-bit md5, the
    :func:`_hash60` recipe), then from every window of ``w``
    consecutive shingle hashes select the MINIMUM (rightmost position on
    ties) and emit the distinct selected (position, hash) fingerprints.

    Why this beats hashing everything: the selected set is ~2/(w+1) of
    the shingles, yet any substring match of at least w+k-1 tokens
    between two documents is GUARANTEED to surface as a shared selected
    hash (the winnowing theorem — both documents select the same
    minimum inside the overlapping window). That is the scale lever for
    corpus-wide span-level dedup: the cross-doc equi-join runs over the
    winnowed ~n/2.5 fingerprints instead of all n shingles, with a
    provable no-false-negative floor instead of MinHash's probabilistic
    one. Documents shorter than k tokens have no shingles and emit
    nothing; documents with fewer than w shingles winnow their single
    short window (≥1 fingerprint per document with ≥k tokens).

    Fully MAP-SIDE: shingling, hashing and window-min selection are one
    expression pipeline per row (no explode-then-window shuffle); the
    only shuffle is whatever the CONSUMER does with the fingerprints
    (typically the equi-join on hash).

    Returns (key, pos, fp) — ``pos`` is the 1-based shingle position of
    the selected hash. ``carry`` names extra input columns passed
    through unchanged (e.g. an event-time column for the watermarked
    streaming screen). ``hashes_only=True`` drops positions and dedups
    hashes PER DOCUMENT inside the same map (array_distinct over the
    selected hashes, before the explode) — the form the pair-join
    consumers want: the same hash selected at m positions in one doc
    would otherwise multiply pair-join rows m× before any distinct
    collapses them (review finding), and doing the dedup map-side keeps
    the streaming path state-free. Returns (key[, carry...], fp)."""
    if k < 1 or w < 1:
        # k=0 would shingle empty strings and w=0 an empty window fold
        # stuck at the sentinel accumulator (silent pos=-1 rows).
        raise ValueError(
            f"winnow_fingerprints: k ({k}) and w ({w}) must be >= 1"
        )
    df = _spread_narrow(df)
    cy = [F.col(c) for c in carry]
    d = df.select(F.col(key), *cy, tokens(text).alias("__tk")).filter(
        F.size("__tk") >= k
    )
    n = F.size("__tk") - (k - 1)
    hashes = F.transform(
        F.sequence(F.lit(1), n),
        lambda p: F.struct(
            p.cast("long").alias("pos"),
            _hash60(F.concat_ws(" ", F.slice("__tk", p, k))).alias("h"),
        ),
    )
    d = d.select(key, *cy, hashes.alias("__hs"))
    nw = F.greatest(F.size("__hs") - (w - 1), F.lit(1))
    sel = F.transform(
        F.sequence(F.lit(1), nw),
        lambda q: F.aggregate(
            F.slice("__hs", q, w),
            F.struct(
                F.lit(-1).cast("long").alias("pos"),
                F.lit(1 << 62).cast("long").alias("h"),
            ),
            # <= keeps the LATER element on equal hashes — the
            # rightmost-tie rule the winnowing guarantee needs
            lambda acc, x: F.when(x.getField("h") <= acc.getField("h"), x)
            .otherwise(acc),
        ),
    )
    if hashes_only:
        hs = F.array_distinct(F.transform(sel, lambda x: x.getField("h")))
        return d.select(key, *cy, F.explode(hs).alias("fp"))
    return (
        d.select(key, *cy, F.explode(F.array_distinct(sel)).alias("__f"))
        .select(
            key,
            *cy,
            F.col("__f.pos").alias("pos"),
            F.col("__f.h").alias("fp"),
        )
    )


def winnow_matches(
    df: DataFrame,
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_df: int | None = None,
    text: str = "text",
    key: str = "doc_id",
) -> DataFrame:
    """Cross-document span matches over the WINNOWED fingerprint set —
    the consumer :func:`winnow_fingerprints` exists for: equi-join the
    selected hashes across documents and report every pair sharing at
    least ``min_shared`` distinct fingerprints. Inherits the winnowing
    guarantee: a ≥ w+k-1-token substring match always contributes a
    shared fingerprint, so at min_shared=1 no such pair can be missed;
    min_shared=2 is the conventional noise floor (a single shared
    k-gram is usually a common phrase, not a copied span).

    ``max_df`` is the 100 TB safety valve: drop fingerprints present in
    more than ``max_df`` documents BEFORE the pair join — a stop-gram
    hash appearing in f documents alone contributes f²/2 candidate
    pairs, so one ubiquitous phrase can quadratically dominate the join
    (the same celebrity-key blowup :func:`~incubator_flink_old_spark.
    operators.joins.join_hotkey_audit` detects). The cap trades recall
    ONLY on spans whose every fingerprint is corpus-ubiquitous —
    exactly the boilerplate a span-dedup wants to ignore anyway.

    Scale: doc-frequency filter = one combinable groupBy over the
    winnowed set; the pair join is an equi-join on fingerprint hash over
    the capped set. Returns (doc_a, doc_b, shared_fps)."""
    df = _spread_narrow(df)
    fps = winnow_fingerprints(
        df, k=k, w=w, text=text, key=key, hashes_only=True
    )
    stats = winnow_index_stats(fps, key=key) if max_df is not None else None
    return winnow_matches_from_index(
        fps, stats, min_shared=min_shared, max_df=max_df, key=key
    )


def winnow_index_stats(fps: DataFrame, key: str = "doc_id") -> DataFrame:
    """Per-fingerprint DOCUMENT FREQUENCY over a winnowed fingerprint
    set (the ``hashes_only`` (key, fp) form) — the maintained statistic
    behind :func:`winnow_matches`' stop-gram cap, factored out so the
    index can be MAINTAINED incrementally: df is a plain count over
    per-doc-distinct rows, i.e. an integer-sum monoid across disjoint
    document sets (:func:`merge_winnow_stats`). Returns (fp, df).

    Scale: one combinable groupBy over the winnowed ~2/(w+1) of
    shingles — map-side partial counts, digest-sized result relative to
    the fingerprint table."""
    return fps.groupBy("fp").agg(F.count_distinct(key).alias("df"))


def merge_winnow_stats(
    *stats: DataFrame,
    doc_keys: "tuple[DataFrame, ...] | list[DataFrame] | None" = None,
) -> DataFrame:
    """Merge per-source winnow df statistics over DISJOINT document
    sets by integer SUM — exact: each (key, fp) row is per-doc distinct
    (the hashes_only contract) and no document appears in two sources,
    so per-source dfs add to exactly the union corpus's df (the
    :func:`~incubator_flink_old_spark.operators.retrieval.
    merge_bm25_stats` mergeability, applied to the span-dedup index).
    Absorbing a delta batch is therefore a pure map over the DELTA
    (fingerprint selection never crosses documents) plus this
    digest-sized merge — the existing corpus is never re-shingled.

    Disjointness is a CONTRACT, not a checked property of the (fp, df)
    digests — they carry no document identity, so overlap is invisible
    here and double-counts df, tightening the stop-gram cap and
    silently dropping true span matches (review finding). Pass
    ``doc_keys`` (one single-column document-key frame per stats frame,
    e.g. ``fps.select("doc_id").distinct()``) to ASSERT disjointness:
    any document claimed by two sources raises with an example key.
    The check is an extra aggregation over doc keys — debug/ingest-gate
    cost, skipped when ``doc_keys`` is None.

    Raises on zero inputs (a silent empty index would make every
    downstream cap drop nothing)."""
    if not stats:
        raise ValueError("merge_winnow_stats: no stats frames given")
    if doc_keys is not None:
        if len(doc_keys) != len(stats):
            raise ValueError(
                f"merge_winnow_stats: {len(doc_keys)} doc_keys frames"
                f" for {len(stats)} stats frames"
            )
        tagged = None
        for i, kf in enumerate(doc_keys):
            if len(kf.columns) != 1:
                # A multi-column frame (e.g. the stats or fps frames
                # passed by mistake) would silently check disjointness
                # of whatever its FIRST column is — defeating the guard
                # (review finding). Require the explicit key projection.
                raise ValueError(
                    f"merge_winnow_stats: doc_keys[{i}] must be a"
                    f" single-column document-key frame, got columns"
                    f" {kf.columns}"
                )
            col = kf.columns[0]
            part = kf.select(F.col(col).alias("__doc")).distinct().withColumn(
                "__src", F.lit(i)
            )
            tagged = part if tagged is None else tagged.unionByName(part)
        dup = (
            tagged.groupBy("__doc")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .limit(1)
            .collect()  # bounded: ≤1 row, debug-gate only
        )
        if dup:
            raise ValueError(
                "merge_winnow_stats: sources are not disjoint — document"
                f" {dup[0]['__doc']!r} appears in more than one source;"
                " per-source dfs would double-count"
            )
    out = stats[0]
    for s in stats[1:]:
        out = out.unionByName(s)
    return out.groupBy("fp").agg(F.sum("df").alias("df"))


def winnow_drift_audit(
    base_stats: DataFrame,
    delta_stats: DataFrame,
    max_df: int,
    n_base: int,
    n_delta: int,
    min_skew: float = 2.5,
    stage: Stage | None = None,
) -> DataFrame:
    """DRIFT AUDIT for the span-dedup index's stop-gram cap — the
    :func:`~incubator_flink_old_spark.queries.llm_ops28.q_drift_retrain`
    discipline applied to the winnow tier (the one index family without
    a drift story, VERDICT r09): as a corpus absorbs deltas, fingerprints
    cross the frozen ``max_df`` cap — organically (any growing corpus
    crosses an ABSOLUTE cap; that is rescale, not drift) or because the
    delta carries NEW ubiquitous boilerplate the frozen cap has never
    seen, which the serve-side stop-gram filter then fails to stop (the
    quadratic pair blowup the cap exists for).

    The detector separates the two exactly like the IVF cell-skew audit:
    for every fingerprint over-cap in the MERGED stats, its delta
    concentration ``df_delta / df_merged`` is compared against the
    global delta share ``n_delta / (n_base + n_delta)``; their max ratio
    (``fp_skew``) is ~1.0 under a clean split (hot fps accrete delta
    mass in proportion) and ≥ 1/share for injected boilerplate (all of
    its df IS delta). The gate RAISES when ``fp_skew < min_skew`` — an
    un-tripped audit must fail loudly, not silently return an empty
    refresh (the drift-retrain fail-loudly contract).

    Returns the cap REFRESH list — every fingerprint whose cap decision
    changes between the frozen stats and the merged stats —
    (fp, df_base, df_delta, df_merged, newly_hot) with the justifying
    ``fp_skew`` on each row (the q_drift_retrain output shape: decisions
    carrying the audit that triggered them). All counts are exact
    integers; fp_skew is a fixed-shape chain of three correctly-rounded
    double divisions over them, bit-equal on any engine.

    Scale: two digest-sized (fp, df) tables full-outer-joined on fp —
    shuffle = distinct fingerprints, never documents; the skew reduce is
    one row. Refreshing the cap after a trip costs nothing more — the
    merged stats ARE the refreshed index (:func:`merge_winnow_stats`).

    A ``stage`` takes the merged digest's eager checkpoint, taken before
    the fail-loud gate; materialize the returned refresh frame, which
    reads it, inside that scope."""
    if n_delta <= 0 or n_base < 0:
        # An empty delta cannot justify a refresh, and share would be a
        # zero/invalid denominator — the designed not-tripped error, not
        # a bare ZeroDivisionError (review finding).
        raise ValueError(
            f"winnow_drift_audit: not tripped — empty delta"
            f" (n_base={n_base}, n_delta={n_delta}); nothing to absorb,"
            " nothing to audit"
        )
    b = base_stats.select("fp", F.col("df").alias("df_base"))
    d = delta_stats.select("fp", F.col("df").alias("df_delta"))
    zero = F.lit(0).cast("long")
    j = (
        b.join(d, on="fp", how="full")
        .select(
            "fp",
            F.coalesce("df_base", zero).alias("df_base"),
            F.coalesce("df_delta", zero).alias("df_delta"),
        )
        .withColumn("df_merged", F.col("df_base") + F.col("df_delta"))
        # Digest-sized by contract (distinct fingerprints); pinned so
        # the audit reduce below and the returned refresh frame share
        # ONE execution of the corpus-shaped upstream (the callers
        # re-shingle whole corpora to build the stats — review finding).
        .localCheckpoint(eager=True)
    )
    if stage is not None:
        stage.keep(j)
    share = n_delta / (n_base + n_delta)
    mx = (
        j.filter(F.col("df_merged") > max_df)
        .agg(
            F.max(
                F.col("df_delta").cast("double") / F.col("df_merged")
            ).alias("mx")
        )
        .collect()[0]["mx"]  # bounded: one scalar — the audit reduce
    )
    fp_skew = (mx / share) if mx is not None else 0.0
    if fp_skew < min_skew:
        raise ValueError(
            f"winnow_drift_audit: not tripped — fp_skew {fp_skew:.3f} <"
            f" min_skew {min_skew} (hot-fingerprint delta concentration"
            " is proportional to the delta share: corpus growth, not"
            " boilerplate drift; refresh the cap on the growth schedule,"
            " not the drift path)"
        )
    frozen_kept = F.col("df_base") <= max_df
    refresh_kept = F.col("df_merged") <= max_df
    return (
        j.filter(frozen_kept != refresh_kept)
        .select(
            "fp",
            "df_base",
            "df_delta",
            "df_merged",
            (~refresh_kept).alias("newly_hot"),
        )
        .withColumn("fp_skew", F.lit(float(fp_skew)))
    )


def winnow_matches_from_index(
    fps: DataFrame,
    stats: DataFrame | None,
    min_shared: int = 2,
    max_df: int | None = None,
    key: str = "doc_id",
) -> DataFrame:
    """Cross-document span matches over a MAINTAINED winnowed index:
    ``fps`` is the (key, fp) fingerprint table (hashes_only form,
    possibly base ∪ map-side-encoded delta) and ``stats`` the (fp, df)
    statistics (possibly :func:`merge_winnow_stats`-merged). Identical
    cap/join/threshold algebra to :func:`winnow_matches` — which now
    delegates here — so incremental and from-scratch paths cannot
    drift. Returns (doc_a, doc_b, shared_fps)."""
    if max_df is not None:
        if stats is None:
            # A cap with no stats would silently skip the stop-gram
            # filter and let one ubiquitous phrase blow up the pair
            # join quadratically — the failure the cap exists to stop.
            raise ValueError(
                "winnow_matches_from_index: max_df set but stats is None"
            )
        keep = stats.filter(F.col("df") <= max_df).select("fp")
        fps = fps.join(keep, on="fp")
    elif stats is not None:
        # Mirror of the guard above (review finding): a caller who
        # maintained stats but forgot max_df gets an UNCAPPED quadratic
        # pair join with no signal — the cap they clearly intended is
        # silently off. Fail loudly instead of ignoring the frame.
        raise ValueError(
            "winnow_matches_from_index: stats given but max_df is None —"
            " pass max_df to apply the stop-gram cap"
        )
    a = fps.select(F.col(key).alias("doc_a"), "fp")
    b = fps.select(F.col(key).alias("doc_b"), "fp")
    return (
        a.join(b, on="fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count_distinct("fp").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def streaming_winnow_stats(
    stream: DataFrame,
    k: int = 3,
    w: int = 4,
    text: str = "text",
    key: str = "doc_id",
    dedup_guard: bool = False,
) -> DataFrame:
    """Winnow-index df statistics maintained LIVE over a document
    stream — the span-dedup tier's streaming absorption (the
    :func:`~incubator_flink_old_spark.operators.retrieval.
    streaming_bm25_stats` recipe applied to the stop-gram cap): each
    arriving document contributes its winnowed fingerprints MAP-SIDE
    (:func:`winnow_fingerprints` is expression-only — legal on a
    stream by construction) in the per-doc-distinct ``hashes_only``
    form, and one streaming groupBy SUMS the per-fp counts. A document
    arrives exactly once (file-replay / ingest contract), so the
    per-fp count is an integer-sum monoid over disjoint arrivals and
    the aggregate's state is EXACTLY :func:`winnow_index_stats` over
    all streamed documents whatever the microbatch boundaries.

    Run in "complete" output mode: the sink always holds the current
    (fp, df) table. Unlike BM25's one-row scalars, the state here IS
    the maintained index statistic — O(distinct fps) rows,
    hash-partitioned by fp, exactly the table the serve-side cap
    (:func:`winnow_matches_from_index`) broadcasts or joins. Per-batch
    cost: a map over the batch's documents plus a combinable partial
    sum — crawl-ingest throughput, never a corpus pass.

    EXACTLY-ONCE CAVEAT (review finding): the batch twin
    (:func:`winnow_index_stats`) counts DISTINCT documents per fp and
    is robust to duplicated documents; Spark disallows distinct aggs on
    streams, so this sums per-arrival counts — exact ONLY under the
    exactly-once-arrival contract. A replayed/duplicated document
    silently inflates df, tightening the serve-side stop-gram cap into
    FALSE-NEGATIVE span matches. Pass ``dedup_guard=True`` to insert a
    stateful ``dropDuplicates([key])`` on the DOCUMENT stream before
    fingerprinting — state is one row per distinct document id (far
    smaller than the fp table the agg already keeps), and the streamed
    df table becomes exact under replayed ingest too. Left off by
    default only because file-replay harnesses already guarantee
    exactly-once."""
    if dedup_guard:
        stream = stream.dropDuplicates([key])
    fps = winnow_fingerprints(
        stream, k=k, w=w, text=text, key=key, hashes_only=True
    )
    return fps.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))


def streaming_winnow_screen(
    stream: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    w: int = 4,
    max_df: int | None = None,
    text: str = "text",
    key: str = "doc_id",
    event_time: str | None = None,
    watermark_delay: str = "10 seconds",
    stage: Stage | None = None,
) -> DataFrame:
    """The WINNOWED crawl front door — :func:`streaming_neardup_screen`'s
    deterministic sibling: each arriving document computes its winnowed
    fingerprints MAP-SIDE (:func:`winnow_fingerprints` is one expression
    pipeline + explode, no window functions — legal on a stream by
    construction) and probes the FROZEN corpus fingerprint table through
    a stream-static equi-join on the hash, emitting the distinct
    (stream doc, corpus doc, fp) match events. Where the MinHash screen
    is probabilistic, every ≥ w+k-1-token span shared with the corpus is
    GUARANTEED to emit at least one event (the winnowing theorem);
    ``max_df`` drops corpus stop-gram fingerprints from the index before
    any batch arrives (:func:`winnow_matches`' quadratic-blowup valve).

    Each event depends only on its own two documents' token streams, so
    streaming ≡ batch whatever the microbatch boundaries. Dedup state is
    one row per emitted event (stream docs arrive once); for unbounded
    ingest pass ``event_time`` (a timestamp column on the stream) and
    the dedup runs as dropDuplicatesWithinWatermark under
    ``watermark_delay`` — the :func:`streaming_neardup_screen` recipe:
    result-identical under in-event-time-order replay (an event's
    duplicates all derive from one arrival row), state evicted once the
    watermark passes.

    Returns (doc_a ∈ stream, doc_b ∈ corpus, fp). Scale: at 100 TB the
    corpus side is a materialized table bucketed by fp; per-batch cost
    is O(batch fingerprints) probe joins, never a corpus pass."""
    if event_time is not None and event_time not in stream.columns:
        raise ValueError(
            f"streaming_winnow_screen: event_time column {event_time!r}"
            f" not in stream schema {stream.columns}"
        )
    carry = (event_time,) if event_time is not None else ()
    matched = winnow_screen_events(
        stream, corpus, k=k, w=w, max_df=max_df, text=text, key=key,
        carry=carry, stage=stage,
    )
    if event_time is None:
        return matched.dropDuplicates(["doc_a", "doc_b", "fp"])
    return (
        matched.withWatermark(event_time, watermark_delay)
        .dropDuplicatesWithinWatermark(["doc_a", "doc_b", "fp"])
        .drop(event_time)
    )


def winnow_corpus_index(
    corpus: DataFrame,
    k: int = 3,
    w: int = 4,
    text: str = "text",
    key: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """The STANDING span-dedup index behind the winnow screen, factored
    out for incremental maintenance: returns ``(fps, stats)`` — fps =
    (doc_b, fp), the UNCAPPED winnowed fingerprint table, and stats =
    (fp, df) its document frequencies. The cap is applied at SCREEN
    time from stats (never baked into fps — a capped table cannot be
    merged, because a fingerprint under-cap in two halves can be
    over-cap in their union). Absorbing an admitted wave is an O(wave)
    append on fps plus :func:`merge_winnow_stats` on stats; the
    standing corpus is never re-shingled."""
    corpus = _spread_narrow(corpus)
    fps = winnow_fingerprints(
        corpus, k=k, w=w, text=text, key=key, hashes_only=True
    ).select(F.col(key).alias("doc_b"), "fp")
    stats = fps.groupBy("fp").agg(F.count_distinct("doc_b").alias("df"))
    return fps, stats


def winnow_screen_events(
    stream: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    w: int = 4,
    max_df: int | None = None,
    text: str = "text",
    key: str = "doc_id",
    carry: tuple[str, ...] = (),
    stage: Stage | None = None,
    corpus_index: "tuple[DataFrame, DataFrame] | None" = None,
) -> DataFrame:
    """The PRE-DEDUP match events under :func:`streaming_winnow_screen`
    — identical map-side winnowed selection, corpus df-cap and
    stream-static hash probe, WITHOUT the final event dedup (a file
    source never re-reads a row, but composition through
    :func:`_verify_barrier`-free expression pipelines keeps the event
    multiplicity at exactly one per (doc_a, doc_b, fp) anyway — the
    dedup in the wrapper exists for at-least-once sources). Factored
    out so duplicate-insensitive composers
    (:func:`streaming_ingest_gate`) consume the screen with zero
    stateful operators. Returns (doc_a, *carry, doc_b, fp).
    With a ``stage``, the capped corpus fingerprint index is persisted
    DISK_ONLY into it — see :func:`neardup_screen_events` for the
    contract.

    ``corpus_index=(fps, stats)`` supplies the PRECOMPUTED standing
    index (:func:`winnow_corpus_index`, possibly an O(wave) absorb:
    fps appended, stats :func:`merge_winnow_stats`-merged); ``corpus``
    is then unused, the cap is applied from the supplied stats, and
    the caller pins the supplied frames. By the merge exactness (integer df
    sums over disjoint document sets) the capped probe is
    value-identical to a from-scratch rebuild over the union corpus."""
    if corpus_index is not None:
        fps, stats = corpus_index
        if max_df is not None:
            keep = stats.filter(F.col("df") <= max_df).select("fp")
            cfp = fps.join(keep, on="fp").select("doc_b", "fp")
        else:
            # Mirror winnow_matches_from_index's guard: a maintained
            # stats frame with no cap means the caller forgot the
            # stop-gram filter they built the stats for.
            raise ValueError(
                "winnow_screen_events: corpus_index given but max_df is"
                " None — pass max_df to apply the stop-gram cap"
            )
    else:
        cfp = winnow_fingerprints(
            corpus, k=k, w=w, text=text, key=key, hashes_only=True
        ).select(F.col(key).alias("doc_b"), "fp")
        if max_df is not None:
            keep = (
                cfp.groupBy("fp")
                .agg(F.count_distinct("doc_b").alias("__df"))
                .filter(F.col("__df") <= max_df)
                .select("fp")
            )
            cfp = cfp.join(keep, on="fp").select("doc_b", "fp")
        if stage is not None:
            cfp = _stage_static(stage, stream, cfp)
    sfp = winnow_fingerprints(
        stream, k=k, w=w, text=text, key=key, carry=carry, hashes_only=True
    ).select(F.col(key).alias("doc_a"), *carry, "fp")
    return (
        sfp.join(cfp, on="fp")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", *carry, "doc_b", "fp")
    )


def streaming_ingest_gate(
    stream: DataFrame,
    corpus: DataFrame,
    *,
    langs: tuple[str, ...] = ("en", "de", "fr"),
    num_hashes: int = 8,
    band_size: int = 4,
    jaccard_threshold: float = 0.7,
    k: int = 3,
    w: int = 4,
    max_df: int | None = None,
    text: str = "text",
    key: str = "doc_id",
    lang: str = "lang",
    event_time: str | None = None,
    watermark_delay: str = "10 seconds",
    screens: tuple[str, ...] = ("neardup", "span"),
    stage: Stage | None = None,
    corpus_artifacts: "dict | None" = None,
    extra_screens: "dict[str, DataFrame] | None" = None,
) -> DataFrame:
    """The COMPOSED crawl-ingest front door — quality gate, language
    allowlist, MinHash near-dup screen and winnowed span screen stitched
    into ONE streaming DAG with ONE watermark and ONE stateful operator,
    emitting a per-document ingest VERDICT: (key, quality_ok, lang_ok,
    has_neardup, has_spandup, admit). This is the ``q_curate_full`` of
    ingest: the standing corpus stays frozen (its band table and
    df-capped fingerprint index are static sides of stream-static
    joins); each arriving document is scored, screened and admitted or
    rejected at crawl throughput.

    Composition strategy — EVIDENCE rows, not screen outputs: the
    screens' own pair-dedup states are dropped (their pre-dedup event
    forms :func:`neardup_screen_events` / :func:`winnow_screen_events`)
    because the verdict only needs EXISTENCE per document, and
    max() over duplicate evidence is duplicate-insensitive. Three
    branches off the one source — a base row per document carrying the
    map-side quality keep (:func:`quality_score`) and the lang
    allowlist, one row per verified near-dup partner (exact jaccard ≥
    threshold vs the corpus band index), one row per winnowed span hit
    vs the df-capped corpus index (the ≥ w+k−1-token detection
    GUARANTEE applies: a copied span cannot enter unflagged) — union
    into a single evidence stream and fold with one groupBy
    max-aggregation. With ``event_time`` set, the aggregation is
    watermarked on the ingest time and runs in append mode with state
    EVICTED once the watermark passes a document (the unbounded-crawl
    form); without it, run in complete mode (bounded replays/tests).

    has_spandup fires on ≥1 shared capped fingerprint — the screen
    grain :func:`streaming_winnow_screen` ships (the detection-
    guarantee floor); pair-level ``min_shared`` thresholds belong to
    the batch serve (:func:`winnow_matches`), not the ingest gate.
    ``screens`` selects which dup screens run (both by default); a
    screen that is off contributes no evidence and its flag reads
    false — the lifecycle row runs the near-dup arm alone.

    NULL regime (pinned, review finding): a document whose quality is
    unscorable (zero tokens ⇒ NULL ratios) or whose ``lang`` is NULL
    reads quality_ok / lang_ok FALSE and is rejected — never a NULL
    verdict. Oracles mirror this with COALESCE(flag, FALSE).

    ``corpus_artifacts`` supplies maintained standing indexes instead
    of deriving them from ``corpus``: a dict with optional keys
    ``"neardup"`` = (toks, bands) (:func:`neardup_corpus_artifacts`)
    and ``"span"`` = (fps, stats) (:func:`winnow_corpus_index`) — the
    N-wave absorb path, where admitting a wave appends its delta
    artifacts instead of re-deriving the corpus. The caller pins
    supplied frames; ``stage`` pins the artifacts derived from
    ``corpus`` (:func:`neardup_screen_events`).

    ``extra_screens`` composes ADDITIONAL dup screens into the SAME
    single evidence fold: ``{name: events}`` where events is any frame
    of (doc_a, *carry) hit rows — one row per evidence event, duplicate
    multiplicity irrelevant (the existence-MAX contract; the pre-dedup
    event forms of any screen qualify). Each contributes a
    ``has_<name>`` verdict column (after has_spandup, names in sorted
    order) and joins the admit conjunction. The semantic near-dup gate
    (q_semantic_ingest_gate) passes the IVF-pruned cosine screen's
    events here — still ONE stateful operator whatever the screen
    count. With ``event_time`` set, each events frame must carry the
    event-time column. KEY-DOMAIN CONTRACT (ADVICE r11): every event's
    ``doc_a`` must be a key of ``stream`` — an event keyed outside the
    stream mints a verdict row for a document that never arrived
    (quality/lang false, the screen flag true). Events derived FROM the
    stream satisfy this by construction; events derived from a side
    table (e.g. an embeddings join) must be semi-joined to the stream's
    key set by the caller.

    Scale: base is a pure map; both probes are stream-static equi-joins
    against materialized, bucketed corpus artifacts (band table by
    (band, bucket), fingerprint index by fp); the single aggregation
    shuffles one digest row per evidence event on the doc key, and its
    state is one row per IN-FLIGHT document — watermark-bounded, not
    corpus-bounded. Admitting a batch then absorbing it into the
    corpus artifacts is the maintenance matrix's job
    (:func:`merge_winnow_stats`, incremental band/BM25/IVF absorbs)."""
    if event_time is not None and event_time not in stream.columns:
        raise ValueError(
            f"streaming_ingest_gate: event_time column {event_time!r}"
            f" not in stream schema {stream.columns}"
        )
    bad_screens = set(screens) - {"neardup", "span"}
    if bad_screens:
        # A typo'd screen name must not silently become "screen off" —
        # an unscreened front door admits duplicates (fail-loudly).
        raise ValueError(
            f"streaming_ingest_gate: unknown screens {sorted(bad_screens)}"
        )
    corpus_artifacts = corpus_artifacts or {}
    bad_artifacts = set(corpus_artifacts) - {"neardup", "span"}
    if bad_artifacts:
        # A typo'd artifact key ("spans") would be silently ignored and
        # the screen would fall back to deriving from ``corpus`` — which
        # maintained-index callers pass as None, crashing deep inside
        # instead of here (review finding; the bad_screens discipline).
        raise ValueError(
            "streaming_ingest_gate: unknown corpus_artifacts keys"
            f" {sorted(bad_artifacts)}"
        )
    extra = dict(extra_screens or {})
    bad_extra = [n for n in extra if not n.isidentifier()] + [
        n for n in extra if n in ("neardup", "span")
    ]
    if bad_extra:
        # A shadowed or non-identifier name would silently rename or
        # collide a verdict column (fail-loudly, the screens guard).
        raise ValueError(
            f"streaming_ingest_gate: bad extra_screens names {bad_extra}"
        )
    extra_names = sorted(extra)
    ind = ["__near", "__span"] + [f"__x{i}" for i in range(len(extra_names))]
    carry = (event_time,) if event_time is not None else ()
    # Batch replays of the gate arrive as a narrow single-split scan —
    # spread the arriving side so the map-side scoring/signature work
    # runs cluster-wide (no-op for real streams and wide inputs).
    stream = _spread_narrow(stream)
    zero, one = F.lit(0), F.lit(1)

    def one_hot(hot: str) -> list:
        return [(one if c == hot else zero).alias(c) for c in ind]

    base = quality_score(
        stream, text=text, key=key, carry=(lang, *carry)
    ).select(
        F.col(key).alias("__doc"),
        *carry,
        # COALESCE pins the NULL regime (review finding): a zero-token
        # document scores a NULL quality and a NULL lang misses the
        # allowlist as NULL — without the coalesce the max-fold turned
        # those into false ONLY when a screen event coexisted (max(NULL,
        # 0) = 0) and NULL otherwise, a fixture-dependent divergence.
        # Pinned semantics: unscorable ⇒ gate fails ⇒ rejected.
        F.coalesce(F.col("keep").cast("int"), zero).alias("__q"),
        F.coalesce(F.col(lang).isin(*langs).cast("int"), zero).alias("__l"),
        *one_hot(""),
    )
    ev = base
    if "neardup" in screens:
        near = neardup_screen_events(
            stream,
            corpus,
            num_hashes=num_hashes,
            band_size=band_size,
            jaccard_threshold=jaccard_threshold,
            text=text,
            key=key,
            carry=carry,
            stage=stage,
            corpus_artifacts=corpus_artifacts.get("neardup"),
        ).select(
            F.col("doc_a").alias("__doc"),
            *carry,
            zero.alias("__q"),
            zero.alias("__l"),
            *one_hot("__near"),
        )
        ev = ev.unionByName(near)
    if "span" in screens:
        span = winnow_screen_events(
            stream, corpus, k=k, w=w, max_df=max_df, text=text, key=key,
            carry=carry, stage=stage,
            corpus_index=corpus_artifacts.get("span"),
        ).select(
            F.col("doc_a").alias("__doc"),
            *carry,
            zero.alias("__q"),
            zero.alias("__l"),
            *one_hot("__span"),
        )
        ev = ev.unionByName(span)
    for i, name in enumerate(extra_names):
        xev = extra[name].select(
            F.col("doc_a").alias("__doc"),
            *carry,
            zero.alias("__q"),
            zero.alias("__l"),
            *one_hot(f"__x{i}"),
        )
        ev = ev.unionByName(xev)
    if event_time is not None:
        ev = ev.withWatermark(event_time, watermark_delay)
    agg = ev.groupBy("__doc", *carry).agg(
        F.max("__q").alias("__mq"),
        F.max("__l").alias("__ml"),
        *[F.max(c).alias(f"__m{c}") for c in ind],
    )
    q_ok = F.col("__mq") == 1
    l_ok = F.col("__ml") == 1
    hits = [F.col(f"__m{c}") == 1 for c in ind]
    no_hit = ~hits[0]
    for h in hits[1:]:
        no_hit = no_hit & ~h
    return agg.select(
        F.col("__doc").alias(key),
        q_ok.alias("quality_ok"),
        l_ok.alias("lang_ok"),
        hits[0].alias("has_neardup"),
        hits[1].alias("has_spandup"),
        *[
            h.alias(f"has_{n}")
            for h, n in zip(hits[2:], extra_names)
        ],
        (q_ok & l_ok & no_hit).alias("admit"),
    )


def mixture_schedule(
    df: DataFrame,
    weights: dict[str, float],
    key: str = "doc_id",
    source: str = "source",
    skew_safe: bool = False,
) -> DataFrame:
    """Deterministic WEIGHTED-INTERLEAVE training schedule (stride
    scheduling): materialize the one global order in which a training
    run should consume a multi-source corpus so that every prefix
    contains the sources in proportion to ``weights``. Each source's
    documents are first put in seeded hash order (portable 60-bit md5 —
    the :func:`epoch_shuffle` recipe), then document r of source s is
    scheduled at virtual time ``r / weights[s]``; the global order is
    (virtual time, source, key). A source with weight 2w appears twice
    as often as one with weight w until it exhausts, and the schedule is
    a pure function of (corpus, weights) — reproducible on any engine
    or cluster, unlike rand()-interleaved dataloaders.

    Sources absent from ``weights`` are EXCLUDED — a mixture schedule is
    a selection (the q_domain_cap/q_data_mixture posture upstream
    decides the weights). Prefer power-of-two weights: r/w is then an
    exact binary division, so cross-source virtual-time TIES (rank 4 of
    weight-4 vs rank 2 of weight-2) compare bit-identically on every
    engine and fall through to the deterministic (source, key)
    tie-break.

    Scale: one per-source hash-rank window (partitioned by source) and
    one DISTRIBUTED global numbering over (vt, source, key) — the
    global_row_number two-pass (range partition + per-partition
    numbering + broadcast offsets), so no single-task global window
    anywhere in the plan; the range exchange's output is already the
    vt-sharded layout a dataloader reads. ``skew_safe=True`` replaces
    the per-source window with the two-level exact rank
    (:func:`~incubator_flink_old_spark.operators.aggregates.
    per_group_row_number` — the quality_calibrate skew path): at 100 TB
    a CommonCrawl-sized dominant source otherwise funnels its whole
    hash-rank through ONE task. Output is bit-identical either mode
    (row_number over the fully tie-broken (__h, key) order — law-pinned
    in tests/test_wave47.py).

    Returns (key, source, src_rank, sched_pos)."""
    from pyspark.sql import Window

    from incubator_flink_old_spark.operators.aggregates import (
        global_row_number,
        per_group_row_number,
    )
    from incubator_flink_old_spark.sources import local_rows

    w_rows = sorted(weights.items())
    if not w_rows:
        raise ValueError("mixture_schedule: weights is empty")
    bad = [s for s, wt in w_rows if not wt > 0]
    if bad:
        # Under non-ANSI SQL a zero weight makes vt = r/0.0 = NULL and
        # NULLS-FIRST ordering would silently schedule that source's
        # ENTIRE corpus before every weighted source — the opposite of
        # exclusion (review finding). Exclusion is spelled by omitting
        # the source from ``weights``; anything else is a caller bug.
        raise ValueError(
            f"mixture_schedule: weights must be > 0, got {bad};"
            " omit a source from weights to exclude it"
        )
    wdf = F.broadcast(
        local_rows(
            df.sparkSession,
            [(s, float(w)) for s, w in w_rows],
            f"{source} string, __wt double",
        )
    )
    h = _hash60(F.col(key).cast("string"))
    weighted = df.join(wdf, on=source).select(
        F.col(key), F.col(source), "__wt", h.alias("__h")
    )
    if skew_safe:
        ranked = per_group_row_number(
            weighted, source, [F.col("__h"), F.col(key)], alias="src_rank"
        )
    else:
        ranked = weighted.withColumn(
            "src_rank",
            F.row_number()
            .over(Window.partitionBy(source).orderBy("__h", key))
            .cast("long"),
        )
    staged = ranked.withColumn("__vt", F.col("src_rank") / F.col("__wt"))
    return global_row_number(
        staged, [F.col("__vt"), F.col(source), F.col(key)], alias="sched_pos"
    ).select(key, source, "src_rank", F.col("sched_pos").cast("long"))


def negative_samples(
    df: DataFrame,
    query_filter: Column,
    k: int = 4,
    num_buckets: int = 64,
    key: str = "doc_id",
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    query document draws ``k`` pseudo-random corpus documents — one from
    each of the ``k`` hash-ring buckets after its own — with the
    per-bucket pick arg-min'd on a (query, candidate) pair hash.

    Scale shape: candidates equi-join their BUCKET (each query touches
    k/num_buckets of the corpus, and with the corpus written
    bucket-partitioned the probe is partition-pruned, the IVF layout
    move); the per-bucket pick is a combinable min_by — no crossJoin,
    no per-query scan of the full corpus. md5-derived hashes replay
    identically on any engine.
    """
    bucket = F.conv(
        F.substring(F.md5(F.col(key).cast("string")), 1, 8), 16, 10
    ).cast("long") % num_buckets
    cand = df.select(
        F.col(key).alias("neg_id"), bucket.alias("__b")
    )
    q = df.filter(query_filter).select(
        F.col(key).alias("q_id"),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.lit(k)),
                lambda j: F.struct(
                    j.alias("j"),
                    ((bucket + j) % num_buckets).alias("__b"),
                ),
            )
        ).alias("probe"),
    ).select("q_id", F.col("probe.j").alias("j"), F.col("probe.__b").alias("__b"))
    pair_h = F.md5(
        F.concat_ws("|", F.col("q_id").cast("string"), F.col("neg_id").cast("string"))
    )
    return (
        q.join(cand, on="__b")
        .filter(F.col("neg_id") != F.col("q_id"))
        .groupBy("q_id", "j")
        .agg(F.min_by("neg_id", pair_h).alias("neg_id"))
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    key: str,
    name: str,
    window: int = 3,
    max_distance: int = 2,
) -> DataFrame:
    """Sorted-neighborhood record linkage — the classic alternative to
    LSH blocking: sort records by the match key, compare each record
    only to its ``window − 1`` successors, verify with edit distance.

    The sort rank comes from :func:`aggregates.global_row_number`
    (range partition + per-partition numbering + broadcast offsets), so
    there is NO single-task global window at any scale; the neighbor
    join is an equi-join on rank (each row explodes to its w−1 probe
    ranks — candidate volume is exactly (w−1)·n, linear by
    construction, vs LSH's data-dependent bucket sizes). Levenshtein
    runs once per candidate.

    Returns (name_a, name_b, dist) with rank(a) < rank(b), dist ≤
    ``max_distance``. Deterministic: rank ties broken by ``key``.
    """
    from incubator_flink_old_spark.operators.aggregates import global_row_number

    if window < 2:
        # window=1 would build F.sequence(rn+1, rn) — a DESCENDING
        # two-element sequence in Spark, yielding bogus self/rank-rn
        # candidates instead of the empty set the semantics demand.
        raise ValueError("sorted_neighborhood_pairs requires window >= 2")
    ranked = global_row_number(
        df.select(F.col(key).alias("__k"), F.col(name).alias("__n")),
        [F.col("__n"), F.col("__k")],
        alias="__rn",
    )
    probes = ranked.select(
        F.col("__n").alias("name_a"),
        F.explode(
            F.sequence(F.col("__rn") + 1, F.col("__rn") + (window - 1))
        ).alias("__rn"),
    )
    cands = probes.join(
        ranked.select(F.col("__n").alias("name_b"), "__rn"), on="__rn"
    )
    scored = cands.select(
        "name_a", "name_b", F.levenshtein("name_a", "name_b").alias("dist")
    )
    return scored.filter(F.col("dist") <= max_distance)


def quality_calibrate(
    df: DataFrame,
    keep_frac: float = 0.75,
    text: str = "text",
    key: str = "doc_id",
    source: str = "source",
    skew_safe: bool = False,
) -> DataFrame:
    """PER-SOURCE quality CALIBRATION — the step q_text_quality's
    absolute 0.4 threshold cannot do: heuristic quality scores are not
    comparable across sources (a forum's stopword/length profile is not
    an encyclopedia's), so a single global cut over- or under-prunes
    per source. The standard fix is a per-source quality BUDGET: rank
    each document within its source by (quality desc, key asc — fully
    tie-broken) and keep the top ``keep_frac`` by PERCENT_RANK. The
    keep boundary is then a property of the source's own distribution,
    and the kept fraction is uniform across sources by construction.

    Exactness: quality is the q_text_quality arithmetic (hash-checked
    doubles, bit-equal cross-engine); percent_rank = (rank−1)/(n−1)
    over a fully tie-broken order is one correctly-rounded integer
    division — reproducible on any engine, unlike a sampled quantile
    threshold. NULL quality (zero-token docs) sorts LAST explicitly
    (engine desc_nulls_last = DuckDB DESC NULLS LAST, pinned) and so is
    kept only at keep_frac = 1.

    Scale: the default is one window shuffled on ``source`` — a
    mega-source funnels through one task. ``skew_safe=True`` is the
    100 TB path (VERDICT r11 item 3): the per-source rank is computed
    by the TWO-LEVEL exact form — range-partition on (source, quality
    desc, key) so a mega source spans many partitions, number within
    (partition, source), add per-(partition, source) count offsets via
    a broadcast join (:func:`~incubator_flink_old_spark.operators.
    aggregates.per_group_row_number`) — and percent_rank is recomposed
    as (rank−1)/(n−1) against a per-source count join. Bit-identical
    to the single-window form (percent_rank over a fully tie-broken
    order IS that division — one correctly-rounded op; n = 1 reads
    0.0 on both paths; law-pinned two-level ≡ window in
    tests/test_wave47.py), so the keep boundary still replays
    cross-engine — unlike the approx-quantile alternative the
    docstring previously only gestured at.

    Returns (key, source, quality, src_pct, keep)."""
    from pyspark.sql import Window

    q = quality_score(df, text=text, key=key, carry=(source,))
    order = [F.col("quality").desc_nulls_last(), F.col(key)]
    if skew_safe:
        from incubator_flink_old_spark.operators.aggregates import (
            per_group_row_number,
        )

        rn = per_group_row_number(q, source, order, alias="__rn")
        # Counts from rn, NOT q: rn is per_group_row_number's eager
        # checkpoint, so this reads blocks — grouping q would re-run
        # the whole tokenize+score scan a second time (review finding).
        counts = rn.groupBy(source).agg(
            F.count(F.lit(1)).cast("long").alias("__n")
        )
        # eqNullSafe: a NULL source is one rank group (matching the
        # window form's NULL partitioning).
        ranked = rn.join(
            F.broadcast(
                counts.select(F.col(source).alias("__cs"), "__n")
            ),
            F.col(source).eqNullSafe(F.col("__cs")),
            "left",
        )
        pct = F.when(F.col("__n") > 1,
                     (F.col("__rn") - 1).cast("double")
                     / (F.col("__n") - 1).cast("double")
              ).otherwise(F.lit(0.0))
        return ranked.select(
            key,
            source,
            "quality",
            pct.alias("src_pct"),
            (pct <= F.lit(keep_frac)).alias("keep"),
        )
    w = Window.partitionBy(source).orderBy(*order)
    pct = F.percent_rank().over(w)
    return q.select(
        key,
        source,
        "quality",
        pct.alias("src_pct"),
        (pct <= F.lit(keep_frac)).alias("keep"),
    )


def token_budget_chunks(
    df: DataFrame,
    budget: int,
    weights: "dict[str, float]",
    text: str = "text",
    key: str = "doc_id",
    source: str = "source",
    skew_safe: bool = False,
) -> DataFrame:
    """TOKEN-BUDGET CHUNKING of the training schedule — the step
    between :func:`mixture_schedule` (the one global consume order) and
    a trainer that thinks in TOKENS, not documents: assign every
    scheduled document to the training chunk in which it STARTS, where
    chunk c covers global token interval [c·budget, (c+1)·budget).
    Document-granular by design (a document is never split here —
    :func:`pack_sequences` owns intra-sequence packing); the cumulative
    whitespace token count over the schedule order decides the chunk,
    so chunk boundaries are a pure function of (corpus, weights,
    budget) — the reproducible curriculum a rand()-fed dataloader
    cannot give.

    Exactness: token counts and their prefix sums are int64 — exact on
    any engine under the fixed schedule order; chunk_id is one integer
    floor-division.

    Scale (``skew_safe`` forwards to :func:`mixture_schedule`'s
    two-level per-source rank — the mega-source path): the schedule's
    own windows plus ONE distributed prefix sum
    (:func:`~incubator_flink_old_spark.operators.aggregates.
    global_prefix_agg` — range-partitioned, per-partition running sums,
    broadcast prefix offsets; no empty-partitionBy window anywhere).
    The range exchange's output is the chunk-sharded layout the
    dataloader reads.

    Returns (key, source, sched_pos, n_tokens, cum_tokens, chunk_id)."""
    from incubator_flink_old_spark.operators.aggregates import (
        global_prefix_agg,
    )

    if budget <= 0:
        # Non-ANSI div by zero would silently NULL every chunk_id — the
        # fail-loud convention (mixture_schedule's weight guard).
        raise ValueError(
            f"token_budget_chunks: budget must be positive, got {budget}"
        )

    sched = mixture_schedule(
        df, weights, key=key, source=source, skew_safe=skew_safe
    )
    counts = df.select(key, token_count(text).cast("long").alias("n_tokens"))
    joined = sched.join(counts, on=key)
    run = global_prefix_agg(
        joined,
        order=[F.col("sched_pos")],
        values={"cum_tokens": (F.col("n_tokens"), "sum")},
    )
    return run.select(
        key,
        source,
        "sched_pos",
        "n_tokens",
        "cum_tokens",
        F.expr(f"(cum_tokens - n_tokens) div {int(budget)}").alias(
            "chunk_id"
        ),
    )
