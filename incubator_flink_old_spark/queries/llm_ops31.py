"""Training-data pipeline queries, wave 46 (round 11): N-wave ingest
ABSORPTION through the O(wave) artifact-merge operators — VERDICT r10
item 2. q_ingest_lifecycle (llm_ops30) checks the absorption LOOP with a
recompute-from-union engine path (the oracle discipline); this wave's
q_ingest_absorb_parity drives the same loop through the MAINTAINED
indexes: the standing corpus artifacts (near-dup band/token tables,
winnow fingerprint table + df stats) are built once, persisted, and
wave-1 admits are absorbed by APPEND + integer stats merge
(merge_winnow_stats with the doc_keys disjointness assertion) — the
standing corpus is never re-hashed for wave 2, which is the only
absorption shape that survives 100 TB.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from incubator_flink_old_spark.queries import register
from incubator_flink_old_spark.queries._util import t
from incubator_flink_old_spark.queries.llm_ops28 import (
    _D_MOD,
    _D_REM,
    _NDS_BAND,
    _NDS_HASHES,
    _NDS_THRESHOLD,
)
from incubator_flink_old_spark.queries.llm_ops29 import (
    _WIN_K,
    _WIN_MAX_DF,
    _WIN_W,
)
from incubator_flink_old_spark.queries.llm_ops30 import (
    _GATE_LANGS,
    _gate_replay,
    _ingest_gate_oracle,
)
from incubator_flink_old_spark.session import staged

#: The absorption rule: quality + lang + verified near-dup. The span
#: flag is carried and parity-checked (it exercises the merged winnow
#: index end-to-end) but does NOT gate absorption — the fixture corpus
#: is winnow-span-saturated at every knob (documented in test_wave45 /
#: q_ingest_lifecycle), so a span-gated loop would absorb nothing and
#: the merge path would be vacuously "checked" on empty deltas.
_ABSORB_RULE = "quality_ok AND lang_ok AND NOT has_neardup"


def _absorb_oracle() -> str:
    """Two stitched gate oracles over GROWING scope — the
    q_ingest_lifecycle recompute discipline, extended to both screens:
    wave 2's corpus side is corpus ∪ wave-1 ABSORBS, with the absorbed
    set derived from wave 1's own verdicts inside the SQL. The oracle
    recomputes from the union; the ENGINE path under test absorbs by
    artifact append + integer stats merge — their equality at the
    verdict level is exactly the merge-exactness claim
    (merge_winnow_stats' disjoint integer sums; band/token append)."""
    g1 = _ingest_gate_oracle(
        new_pred="doc_id % 5 = 3",
        scope_pred="doc_id % 5 <= 3",
    )
    g2 = _ingest_gate_oracle(
        new_pred="doc_id % 5 = 4",
        scope_pred=(
            "doc_id % 5 <= 2 OR doc_id % 5 = 4"
            " OR doc_id IN (SELECT doc_id FROM a1)"
        ),
    )
    return f"""
    WITH g1 AS MATERIALIZED ({g1}),
    a1 AS (SELECT doc_id FROM g1 WHERE {_ABSORB_RULE}),
    g2 AS MATERIALIZED ({g2})
    SELECT CAST(1 AS BIGINT) AS wave, doc_id, quality_ok, lang_ok,
           has_neardup, has_spandup,
           {_ABSORB_RULE} AS absorbed
    FROM g1
    UNION ALL
    SELECT CAST(2 AS BIGINT) AS wave, doc_id, quality_ok, lang_ok,
           has_neardup, has_spandup,
           {_ABSORB_RULE} AS absorbed
    FROM g2
    """


@register("q_ingest_absorb_parity", oracle=_absorb_oracle())
def q_ingest_absorb_parity(spark, sf_dir):
    """N-WAVE INGEST ABSORPTION AS THE ENGINE PATH (VERDICT r10 item
    2): the front door's absorption loop driven through the MAINTAINED
    indexes instead of a corpus rebuild. The standing corpus
    (doc_id % 5 ≤ 2) is materialized ONCE into its four serve
    artifacts — near-dup token-set + band tables
    (neardup_corpus_artifacts) and the uncapped winnow fingerprint
    table + df stats (winnow_corpus_index) — and persisted. Wave 1
    (doc_id % 5 = 3) is gated against those frozen artifacts; its
    ABSORBED documents (quality + lang + no verified near-dup; the
    span flag is parity-checked but does not gate — the fixture corpus
    is span-saturated, see _ABSORB_RULE) are absorbed by the O(wave)
    merge: band/token/fingerprint rows APPEND, dfs integer-merge
    through merge_winnow_stats WITH the doc_keys disjointness
    assertion. Wave 2 (doc_id % 5 = 4) is then gated against the
    merged artifacts — the standing corpus is never re-hashed, the
    plan's only corpus-shaped inputs are the persisted artifact blocks
    (plan-pinned in tests/test_wave46.py), and the verdicts
    hash-match an oracle that RECOMPUTES wave 2's corpus from the
    union — absorb ≡ recompute at the verdict level, the
    merge-exactness law made a driver-checked row.

    Companion rows: q_ingest_lifecycle (llm_ops30) runs the same loop
    with a recompute engine path (near-dup arm only) — together they
    pin engine-recompute ≡ oracle AND engine-absorb ≡ oracle;
    q_winnow_incremental pins the same absorb ≡ recompute claim at the
    span-match level; test_wave46's laws pin it on a crafted fixture
    where absorption changes a verdict (a wave-2 copy of a wave-1
    admit) and where a df cap decision flips only in the merged stats.

    Scale: absorbing a wave costs O(wave) — the delta's own artifact
    build (map-side) plus a digest-sized stats merge; wave-2 serve
    cost is unchanged from q_ingest_gate (equi-join probes against the
    standing tables, one evidence fold). At 100 TB the persisted
    frames are the standing bucketed band/fp tables and absorption is
    a partition append + stats upsert — nothing rescans the corpus."""
    from pyspark.storagelevel import StorageLevel

    from incubator_flink_old_spark.operators.text import (
        merge_winnow_stats,
        neardup_corpus_artifacts,
        streaming_ingest_gate,
        winnow_corpus_index,
    )

    docs = t(spark, sf_dir, "documents")
    m5 = F.col("doc_id") % 5
    corpus0 = docs.filter(m5 <= 2).select("doc_id", "text")
    wave1 = docs.filter(m5 == 3).select("doc_id", "text", "lang")
    wave2 = docs.filter(m5 == 4).select("doc_id", "text", "lang")
    kw = dict(
        langs=_GATE_LANGS,
        num_hashes=_NDS_HASHES,
        band_size=_NDS_BAND,
        jaccard_threshold=_NDS_THRESHOLD,
        k=_WIN_K,
        w=_WIN_W,
        max_df=_WIN_MAX_DF,
    )
    absorbed = F.expr(_ABSORB_RULE).alias("absorbed")

    # The standing corpus artifacts, built ONCE and pinned DISK_ONLY
    # (the stream-parity rows' heap discipline) — every later read is
    # the persisted blocks, never a corpus re-hash. The scope releases
    # them after the verdict table materializes.
    toks0, bands0 = neardup_corpus_artifacts(
        corpus0, num_hashes=_NDS_HASHES, band_size=_NDS_BAND
    )
    fps0, stats0 = winnow_corpus_index(corpus0, k=_WIN_K, w=_WIN_W)
    with staged() as st:
        toks0, bands0, fps0, stats0 = st.keep(
            *(
                f.persist(StorageLevel.DISK_ONLY)
                for f in (toks0, bands0, fps0, stats0)
            )
        )
        g1 = streaming_ingest_gate(
            wave1,
            None,  # corpus unused: both screens read the artifacts
            corpus_artifacts={
                "neardup": (toks0, bands0),
                "span": (fps0, stats0),
            },
            **kw,
        )
        # Pin wave 1's verdicts: they are read three times (output
        # rows, the absorbed-set join, the disjointness probe) and
        # each unpinned read would replay the whole wave-1 gate.
        g1 = st.keep(g1.localCheckpoint(eager=True))
        admitted1 = wave1.join(g1.filter(_ABSORB_RULE).select("doc_id"), on="doc_id")
        # The O(wave) absorb: delta artifacts from the admitted docs
        # alone, appended to the standing tables; dfs integer-merge
        # with the disjointness assertion (a bounded ≤1-row probe over
        # the two key sets — the ingest-gate-cost guard the operator
        # documents).
        toks_d, bands_d = neardup_corpus_artifacts(
            admitted1, num_hashes=_NDS_HASHES, band_size=_NDS_BAND
        )
        fps_d, stats_d = winnow_corpus_index(admitted1, k=_WIN_K, w=_WIN_W)
        stats1 = merge_winnow_stats(
            stats0,
            stats_d,
            doc_keys=[corpus0.select("doc_id"), admitted1.select("doc_id")],
        )
        g2 = streaming_ingest_gate(
            wave2,
            None,
            corpus_artifacts={
                "neardup": (
                    toks0.unionByName(toks_d),
                    bands0.unionByName(bands_d),
                ),
                "span": (fps0.unionByName(fps_d), stats1),
            },
            **kw,
        )

        def tag(g, wave):
            # wave FIRST to mirror the oracle's column order; absorbed
            # replaces the gate's span-inclusive admit (see
            # _ABSORB_RULE).
            return g.select(
                F.lit(wave).cast("long").alias("wave"),
                "doc_id",
                "quality_ok",
                "lang_ok",
                "has_neardup",
                "has_spandup",
                absorbed,
            )

        # Materialize the verdict table BEFORE releasing the pins (a
        # checkpoint's blocks cannot be recomputed once dropped).
        return tag(g1, 1).unionByName(tag(g2, 2)).localCheckpoint(eager=True)


# --------------------------------------------------------------------------
# Semantic ingest gate: the embedding-space screen joins the front door —
# quality + lang + lexical near-dup + IVF-pruned cosine near-dup, ONE fold
# --------------------------------------------------------------------------

_SEM_CELLS = 8
_SEM_ITERS = 2
_SEM_PROBE = 3
#: SemDeDup-family cosine threshold, set from measurement: at 0.40 the
#: fixture flags 17/100 new docs at sf0.01 and 205/1000 at sf0.1 before
#: probe pruning — varied verdicts at every checked scale (0.35 floods,
#: 0.45 starves).
_SEM_THRESHOLD = 0.40


def _semantic_gate_oracle() -> str:
    from incubator_flink_old_spark.queries.llm_ops11 import (
        _grid_ivf_ctes,
        _sql_cos,
    )

    ivf, last_centers = _grid_ivf_ctes(
        n_cells=_SEM_CELLS,
        iters=_SEM_ITERS,
        src=(
            f"(SELECT * FROM embeddings"
            f" WHERE vec_id % {_D_MOD} <> {_D_REM})"
        ),
        prefix="sg",
    )
    sem_ctes = (
        ivf,
        f"""sq AS (
        SELECT vec_id AS q_id,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(FLOOR(x * 1000000.0) AS BIGINT)) AS qk
        FROM embeddings WHERE vec_id % {_D_MOD} = {_D_REM})""",
        f"""spr AS (
        SELECT q_id, cell, qk FROM (
            SELECT q.q_id, c.cell, q.qk,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.q_id
                       ORDER BY {_sql_cos('q.qk', 'c.cv')} DESC, c.cell
                   ) AS rn
            FROM sq q CROSS JOIN {last_centers} c) t
        WHERE rn <= {_SEM_PROBE})""",
        f"""sev AS (
        SELECT DISTINCT p.q_id
        FROM spr p JOIN sgaf a ON p.cell = a.cell
        WHERE {_sql_cos('p.qk', 'a.k')} >= {_SEM_THRESHOLD}
          AND p.q_id <> a.vec_id)""",
    )
    return _ingest_gate_oracle(
        screens=("neardup",),
        extra_ctes=sem_ctes,
        extra_flags=(
            ("has_semdup", "doc_id IN (SELECT q_id FROM sev)"),
        ),
    )


@register("q_semantic_ingest_gate", oracle=_semantic_gate_oracle())
def q_semantic_ingest_gate(spark, sf_dir):
    """SEMANTIC INGEST GATE — the embedding-space screen joins the
    crawl front door (streaming_ingest_gate.extra_screens +
    operators/similarity.semantic_screen_events): each arriving
    document is scored for quality, language and LEXICAL near-dup
    (verified MinHash vs the corpus band table), and its EMBEDDING
    (vec_id = doc_id, the hybrid-retrieval linkage) probes the standing
    grid-IVF index — n_probe of n_cells cells by exact integer-grid
    cosine, one evidence event per probed corpus vector at cosine ≥
    0.40 (the SemDeDup screen as per-arrival events). All four gates
    fold in the gate's ONE existence-MAX aggregation; admit requires
    passing every gate. This closes the front door's blind spot: a
    paraphrase shares no 8-gram MinHash band yet sits at high cosine —
    lexical and semantic screens catch disjoint duplicate classes
    (q_dedup_agreement measures exactly that disagreement).

    Probe pruning is the production recall trade-off, replayed
    bit-for-bit by the oracle (grid-IVF train, probe ranking and
    verify are integer-exact / correctly-rounded on both engines), so
    the row is exact despite the screen being approximate.

    Scale: the IVF index is the standing serve artifact (trained once,
    delta-absorbed by q_ivf_incremental's recipe); per-arrival semantic
    cost is a broadcast of n_cells centers + a partition-pruned fetch
    of n_probe cells — O(corpus/n_cells · n_probe) point reads, never
    the corpus; evidence rows are digest-sized; the verdict is still
    ONE stateful fold."""
    from incubator_flink_old_spark.operators.similarity import (
        semantic_screen_events,
    )
    from incubator_flink_old_spark.operators.text import (
        streaming_ingest_gate,
    )

    docs = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")
    new_d = F.col("doc_id") % _D_MOD == _D_REM
    new_v = F.col("vec_id") % _D_MOD == _D_REM
    stream = docs.filter(new_d).select("doc_id", "text", "lang")
    sem = (
        semantic_screen_events(
            emb.filter(new_v),
            emb.filter(~new_v),
            n_cells=_SEM_CELLS,
            iters=_SEM_ITERS,
            n_probe=_SEM_PROBE,
            threshold=_SEM_THRESHOLD,
        )
        .select(F.col("doc_a"))
        # Key-domain guard (ADVICE r11): extra_screens is the first
        # hook where a FOREIGN key can enter the evidence fold — an
        # event whose doc_a has no stream document would mint an
        # engine-only verdict row (quality/lang false) the oracle
        # (domain = documents) never produces. The fixture links
        # vec_id = doc_id so this is empirically a no-op at every SF,
        # but the semi-join makes the contract structural instead of
        # an unguarded fixture invariant.
        .join(
            stream.select(F.col("doc_id").alias("doc_a")),
            on="doc_a",
            how="leftsemi",
        )
    )
    return streaming_ingest_gate(
        stream,
        docs.filter(~new_d),
        langs=_GATE_LANGS,
        num_hashes=_NDS_HASHES,
        band_size=_NDS_BAND,
        jaccard_threshold=_NDS_THRESHOLD,
        screens=("neardup",),
        extra_screens={"semdup": sem},
    )


# --------------------------------------------------------------------------
# Per-source quality calibration: the distributional cut the absolute 0.4
# threshold cannot make
# --------------------------------------------------------------------------

_CAL_KEEP_FRAC = 0.75


@register(
    "q_quality_calibration",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               list_distinct(list_filter(
                   string_split_regex(lower(text), '\s+'), x -> x <> ''
               )) AS tk,
               list_filter(string_split_regex(lower(text), '\s+'),
                           x -> x <> '') AS tka
        FROM documents),
    base AS (
        SELECT d.doc_id, d.source,
               CAST(len(list_filter(t.tka,
                   x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
                   / len(t.tka) AS stopword_ratio,
               1.0 - CAST(len(t.tk) AS DOUBLE) / len(t.tka) AS repetition,
               LENGTH(d.text) BETWEEN 100 AND 20000 AS len_ok
        FROM documents d JOIN toks t USING (doc_id)),
    q AS (
        SELECT doc_id, source,
               0.5 * stopword_ratio + 0.3 * (1.0 - repetition)
                 + 0.2 * CAST(len_ok AS DOUBLE) AS quality
        FROM base)
    SELECT doc_id, source, quality,
           PERCENT_RANK() OVER (
               PARTITION BY source
               ORDER BY quality DESC NULLS LAST, doc_id) AS src_pct,
           PERCENT_RANK() OVER (
               PARTITION BY source
               ORDER BY quality DESC NULLS LAST, doc_id)
             <= {_CAL_KEEP_FRAC} AS keep
    FROM q
    """,
)
def q_quality_calibration(spark, sf_dir):
    """PER-SOURCE QUALITY CALIBRATION (operators/text.quality_calibrate)
    — the distributional cut q_text_quality's absolute 0.4 threshold
    cannot make: heuristic quality is not comparable across sources
    (stopword/length profiles differ), so the calibrated gate ranks
    each document WITHIN its source (quality desc, doc_id — fully
    tie-broken) and keeps the top 75%% by percent_rank. Every source
    contributes the same fraction; the keep boundary is each source's
    own distribution. The standard pre-mixing normalization step
    between scoring (q_text_quality) and mixing (q_data_mixture /
    q_mixture_schedule).

    Exactness: the quality doubles are the hash-checked q_text_quality
    arithmetic; percent_rank over a fully tie-broken order is one
    correctly-rounded integer division — a sampled/approx quantile
    threshold would not replay cross-engine. NULL ordering pinned
    (desc_nulls_last both sides).

    Scale: runs the operator's skew_safe mode — the TWO-LEVEL exact
    rank (range partition on (source, quality desc, key), number
    within (partition, source), broadcast count offsets;
    per_group_row_number) so a mega-source spans many partitions
    instead of funnelling one task (VERDICT r11 item 3). Bit-identical
    to the single-window form (two-level ≡ window law + no-per-source-
    window plan pin in tests/test_wave47.py), so the oracle's plain
    PERCENT_RANK window stays the twin."""
    from incubator_flink_old_spark.operators.text import quality_calibrate

    return quality_calibrate(
        t(spark, sf_dir, "documents"),
        keep_frac=_CAL_KEEP_FRAC,
        skew_safe=True,
    )


# --------------------------------------------------------------------------
# Token-budget schedule: the mixture order, chunked by token budget
# --------------------------------------------------------------------------

_TB_BUDGET = 512


def _token_budget_oracle() -> str:
    from incubator_flink_old_spark.queries.llm_ops29 import (
        _mixture_schedule_oracle,
    )

    return rf"""
    WITH sched AS MATERIALIZED ({_mixture_schedule_oracle()}),
    cnt AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                    x -> x <> '')) AS BIGINT) AS n_tokens
        FROM documents),
    run AS (
        SELECT s.doc_id, s.source, s.sched_pos, c.n_tokens,
               SUM(c.n_tokens) OVER (
                   ORDER BY s.sched_pos
                   ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM sched s JOIN cnt c USING (doc_id))
    SELECT doc_id, source, sched_pos, n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens,
           (CAST(cum_tokens AS BIGINT) - n_tokens) // {_TB_BUDGET}
               AS chunk_id
    FROM run
    """


@register("q_token_budget_schedule", oracle=_token_budget_oracle())
def q_token_budget_schedule(spark, sf_dir):
    """TOKEN-BUDGET SCHEDULE (operators/text.token_budget_chunks) — the
    missing step between the mixture order (q_mixture_schedule: WHICH
    document comes next) and a trainer that consumes TOKENS: every
    scheduled document is assigned to the training chunk in which it
    starts, chunk c = global token interval [c·512, (c+1)·512). The
    chunk map is a pure function of (corpus, weights, budget) — the
    reproducible curriculum boundary a rand()-fed dataloader cannot
    give, and the unit checkpoint/restart granularity ("resume from
    chunk 41" re-reads exactly the same documents on any cluster).
    Document-granular by contract (q_pack_sequences owns intra-sequence
    packing).

    Exactness: whitespace token counts and the prefix sum are int64;
    chunk_id is one integer floor-division (Spark div ≡ DuckDB // on
    non-negative operands).

    Scale: the schedule's windows plus ONE distributed prefix sum
    (global_prefix_agg — range partition, per-partition running sums,
    broadcast prefix-total offsets; the oracle's empty-partitionBy
    window is the ORACLE's shape, never the engine's). The range
    exchange is already the chunk-sharded layout a dataloader reads."""
    from incubator_flink_old_spark.operators.text import (
        token_budget_chunks,
    )
    from incubator_flink_old_spark.queries.llm_ops29 import _MIX_WEIGHTS

    return token_budget_chunks(
        t(spark, sf_dir, "documents"),
        budget=_TB_BUDGET,
        weights=dict(_MIX_WEIGHTS),
    )


# --------------------------------------------------------------------------
# Streaming absorb parity: the MERGED artifacts serve the live crawl
# --------------------------------------------------------------------------


def _stream_absorb_oracle() -> str:
    """Wave 2 of the absorb oracle, alone: the streamed gate emits the
    same verdicts whatever the batch boundaries (every evidence event
    depends only on its own documents), so the oracle is the batch
    recompute restricted to wave 2."""
    g1 = _ingest_gate_oracle(
        new_pred="doc_id % 5 = 3",
        scope_pred="doc_id % 5 <= 3",
    )
    g2 = _ingest_gate_oracle(
        new_pred="doc_id % 5 = 4",
        scope_pred=(
            "doc_id % 5 <= 2 OR doc_id % 5 = 4"
            " OR doc_id IN (SELECT doc_id FROM a1)"
        ),
    )
    return f"""
    WITH g1 AS MATERIALIZED ({g1}),
    a1 AS (SELECT doc_id FROM g1 WHERE {_ABSORB_RULE}),
    g2 AS MATERIALIZED ({g2})
    SELECT doc_id, quality_ok, lang_ok, has_neardup, has_spandup, admit
    FROM g2
    """


@register("q_stream_absorb_parity", oracle=_stream_absorb_oracle())
def q_stream_absorb_parity(spark, sf_dir):
    """THE MERGED ARTIFACTS SERVE THE LIVE CRAWL — q_ingest_absorb_
    parity's wave 2 re-run as a REAL STREAM: wave 1 is gated and
    absorbed batch-side exactly as in the absorb row (frozen standing
    artifacts, O(wave) append + merge_winnow_stats), then wave 2
    arrives as a 3-file in-event-time-order replay and the SAME
    composed gate — quality, lang, both corpus screens, one watermarked
    existence fold — executes as a streaming DAG whose static sides are
    the MERGED artifacts. This is the absorption loop's operating
    state: the index a wave just updated immediately screens the next
    wave's live arrivals, with no stream restart beyond swapping the
    static-side artifact frames (at 100 TB: the standing bucketed
    tables the absorb appended to). Two far-future sentinels advance
    the watermark (the standing flush recipe); sentinels are filtered
    from the returned table.

    Oracle: the batch absorb oracle restricted to wave 2 — every
    evidence event depends only on its own documents, so streaming ≡
    batch whatever the boundaries (the q_stream_ingest_gate_parity
    argument, over merged artifacts).

    Scale: per-batch cost is the map-side gates plus O(batch
    candidates) probe joins against the persisted merged artifacts;
    state is one row per in-flight document, watermark-evicted."""
    from pyspark.storagelevel import StorageLevel

    from incubator_flink_old_spark.operators.text import (
        merge_winnow_stats,
        neardup_corpus_artifacts,
        streaming_ingest_gate,
        winnow_corpus_index,
    )
    from incubator_flink_old_spark.streaming import (
        force_pins,
        replay_source,
        stream_result,
    )

    docs = t(spark, sf_dir, "documents")
    m5 = F.col("doc_id") % 5
    corpus0 = docs.filter(m5 <= 2).select("doc_id", "text")
    wave1 = docs.filter(m5 == 3).select("doc_id", "text", "lang")
    wave2 = docs.filter(m5 == 4).select("doc_id", "text", "lang")
    kw = dict(
        langs=_GATE_LANGS,
        num_hashes=_NDS_HASHES,
        band_size=_NDS_BAND,
        jaccard_threshold=_NDS_THRESHOLD,
        k=_WIN_K,
        w=_WIN_W,
        max_df=_WIN_MAX_DF,
    )
    toks0, bands0 = neardup_corpus_artifacts(
        corpus0, num_hashes=_NDS_HASHES, band_size=_NDS_BAND
    )
    fps0, stats0 = winnow_corpus_index(corpus0, k=_WIN_K, w=_WIN_W)
    with staged() as st:
        toks0, bands0, fps0, stats0 = st.keep(
            *(
                f.persist(StorageLevel.DISK_ONLY)
                for f in (toks0, bands0, fps0, stats0)
            )
        )
        g1 = st.keep(
            streaming_ingest_gate(
                wave1,
                None,
                corpus_artifacts={
                    "neardup": (toks0, bands0),
                    "span": (fps0, stats0),
                },
                **kw,
            ).localCheckpoint(eager=True)
        )
        admitted1 = wave1.join(g1.filter(_ABSORB_RULE).select("doc_id"), on="doc_id")
        toks_d, bands_d = neardup_corpus_artifacts(
            admitted1, num_hashes=_NDS_HASHES, band_size=_NDS_BAND
        )
        fps_d, stats_d = winnow_corpus_index(admitted1, k=_WIN_K, w=_WIN_W)
        merged = {
            "neardup": (
                toks0.unionByName(toks_d),
                bands0.unionByName(bands_d),
            ),
            "span": (
                fps0.unionByName(fps_d),
                merge_winnow_stats(stats0, stats_d),
            ),
        }
        # Pin the merged static sides once: the stream-static joins
        # re-evaluate the static plan per micro-batch otherwise (the
        # screens' staged-corpus lesson, applied to supplied artifacts).
        for name, (a, b) in merged.items():
            merged[name] = st.keep(
                a.persist(StorageLevel.DISK_ONLY),
                b.persist(StorageLevel.DISK_ONLY),
            )
        # Force the merged pins at the session's batch width — lazy,
        # they'd build inside micro-batch 0 at the clamped state width
        # (optimization round 12; see streaming.force_pins).
        force_pins(*[f for pair in merged.values() for f in pair])
        with replay_source(_gate_replay(wave2)) as stream:
            out = streaming_ingest_gate(
                stream,
                None,
                corpus_artifacts=merged,
                event_time="ts",
                watermark_delay="30 seconds",
                **kw,
            )
            verdicts = stream_result(out, "append", state_partitions=4)
    return verdicts.filter(F.col("doc_id") >= 0)
