"""Training-data pipeline queries, wave 45 (round 10): the COMPOSED
crawl-ingest front door — quality gate + language allowlist + MinHash
near-dup screen + winnowed span screen stitched into ONE DAG emitting a
per-document ingest verdict (operators/text.streaming_ingest_gate).
VERDICT r09 named this the natural capstone: all four components were
separate green rows (q_text_quality, q_stream_neardup_screen_parity,
q_stream_winnow_screen_parity, the curate gates); this wave checks the
composition itself, batch-form (q_ingest_gate) and as a watermarked
multi-batch stream replay (q_stream_ingest_gate_parity) against one
stitched DuckDB oracle.
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from incubator_flink_old_spark.queries import register
from incubator_flink_old_spark.queries._util import t
from incubator_flink_old_spark.queries.llm_ops28 import (
    _D_MOD,
    _D_REM,
    _NDS_BAND,
    _NDS_HASHES,
    _NDS_THRESHOLD,
    _stream_neardup_oracle,
)
from incubator_flink_old_spark.queries.llm_ops29 import (
    _WIN_K,
    _WIN_MAX_DF,
    _WIN_W,
    _stream_winnow_oracle,
)
from incubator_flink_old_spark.session import staged
from incubator_flink_old_spark.sources import local_rows

_GATE_LANGS = ("en", "de", "fr")


def _gate_replay(wave):
    """Replay batches of the streamed gate rows: ``wave``'s documents
    with an ingest time of 1704067200 + doc_id seconds, in three
    event-time-ordered files, then two far-future sentinel documents
    (doc −1/−2, one and two hours past the last ingest time — the
    q_stream_leftouter_join_parity flush recipe). The sentinels push
    the watermark past every real document (it applies one to two
    batches later), so the append-mode verdict fold emits every real
    verdict inside a DATA batch instead of racing the no-data flush;
    callers filter them out (doc_id ≥ 0)."""
    from incubator_flink_old_spark.streaming import event_time_batches

    docs = wave.select(
        "doc_id",
        "text",
        "lang",
        F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id")).alias("ts"),
    )
    yield from event_time_batches(docs, n_files=3)
    mx = docs.agg(F.max("ts")).collect()[0][0]
    for i in (1, 2):
        yield local_rows(
            wave.sparkSession,
            [(-i, "the of and to a", "en", mx + datetime.timedelta(hours=i))],
            docs.schema,
        )


def _ingest_gate_oracle(
    new_pred: str | None = None,
    scope_pred: str | None = None,
    screens: tuple[str, ...] = ("neardup", "span"),
    extra_ctes: tuple[str, ...] = (),
    extra_flags: tuple[tuple[str, str], ...] = (),
) -> str:
    """Stitched twin: the two screens' verified oracles (verbatim — the
    q_curate_full discipline of composing checked fragments) feed
    per-document EXISTS flags; the quality/lang gates replay the
    q_text_quality arithmetic in the exact double-rounding order the
    engine computes (0.3 * (1 - (1 - d/n)), not 0.3 * d/n).
    new_pred/scope_pred/screens parameterize the lifecycle oracle's
    wave splits; defaults render the exact single-wave string.
    extra_ctes/extra_flags mirror the engine gate's ``extra_screens``:
    each (colname, bool_expr) flag renders after has_spandup and joins
    the admit conjunction (pass flags in the engine's sorted-name
    order)."""
    langs = ", ".join(f"'{x}'" for x in _GATE_LANGS)
    new_pred = new_pred or f"doc_id % {_D_MOD} = {_D_REM}"
    scope = f" AND ({scope_pred})" if scope_pred else ""
    ctes, near_flag, span_flag = list(extra_ctes), "FALSE", "FALSE"
    if "neardup" in screens:
        ctes.append(
            f"np AS MATERIALIZED ({_stream_neardup_oracle(new_pred, scope_pred)})"
        )
        near_flag = "doc_id IN (SELECT doc_a FROM np)"
    if "span" in screens:
        ctes.append(
            f"wp AS MATERIALIZED ({_stream_winnow_oracle(new_pred, scope_pred)})"
        )
        span_flag = "doc_id IN (SELECT doc_a FROM wp)"
    extra_cols = "".join(
        f"\n           {expr} AS {name}," for name, expr in extra_flags
    )
    extra_admit = "".join(
        f" AND NOT ({expr})" for _, expr in extra_flags
    )
    cte_sql = ",\n    ".join(ctes) + ",\n    " if ctes else ""
    return rf"""
    WITH {cte_sql}nd AS (
        SELECT doc_id, lang, text,
               list_filter(string_split_regex(lower(text), '\s+'),
                           x -> x <> '') AS tka
        FROM documents WHERE {new_pred}{scope}),
    q AS (
        SELECT doc_id,
               0.5 * (CAST(len(list_filter(tka,
                         x -> x IN ('the', 'a', 'of', 'and', 'to')))
                       AS DOUBLE) / len(tka))
                 + 0.3 * (1.0 - (1.0 - CAST(len(list_distinct(tka)) AS DOUBLE)
                                       / len(tka)))
                 + 0.2 * CAST(LENGTH(text) BETWEEN 100 AND 20000 AS DOUBLE)
                   AS quality,
               -- COALESCE pins the NULL regime to the engine's
               -- (unscorable/NULL-lang ⇒ rejected, never a NULL
               -- verdict): a zero-token document's quality is NULL and
               -- a NULL lang misses the allowlist as NULL (review
               -- finding — this was fixture-dependent before).
               COALESCE(lang IN ({langs}), FALSE) AS lang_ok
        FROM nd)
    SELECT doc_id,
           COALESCE(quality >= 0.4, FALSE) AS quality_ok,
           lang_ok,
           {near_flag} AS has_neardup,
           {span_flag} AS has_spandup,{extra_cols}
           COALESCE(quality >= 0.4, FALSE) AND lang_ok
             AND NOT ({near_flag}) AND NOT ({span_flag}){extra_admit} AS admit
    FROM q
    """


@register("q_ingest_gate", oracle=_ingest_gate_oracle())
def q_ingest_gate(spark, sf_dir):
    """The COMPOSED ingest front door, batch replay
    (operators/text.streaming_ingest_gate with no event time): every
    "new" document (doc_id % 5 == 4 — the standing stream-fixture
    split) gets ONE verdict row — quality keep (q_text_quality's
    arithmetic), language allowlist, verified MinHash near-dup vs the
    frozen corpus (q_stream_neardup_screen_parity's screen), winnowed
    span hit vs the df-capped corpus index
    (q_stream_winnow_screen_parity's screen, the ≥ 6-token detection
    guarantee), and admit = all gates pass. The q_curate_full of
    ingest: one DAG, the corpus never rescanned per gate.

    Scale: base gates are a pure map; both probes are equi-joins
    against materialized bucketed corpus artifacts; the one aggregation
    shuffles digest-sized evidence rows on the doc key. Composing via
    duplicate-insensitive MAX evidence (not the screens' deduped pair
    outputs) keeps the whole verdict to a single shuffle after the
    probes."""
    from incubator_flink_old_spark.operators.text import (
        streaming_ingest_gate,
    )

    docs = t(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % _D_MOD == _D_REM
    return streaming_ingest_gate(
        docs.filter(is_new).select("doc_id", "text", "lang"),
        docs.filter(~is_new),
        langs=_GATE_LANGS,
        num_hashes=_NDS_HASHES,
        band_size=_NDS_BAND,
        jaccard_threshold=_NDS_THRESHOLD,
        k=_WIN_K,
        w=_WIN_W,
        max_df=_WIN_MAX_DF,
    )


@register("q_stream_ingest_gate_parity", oracle=_ingest_gate_oracle())
def q_stream_ingest_gate_parity(spark, sf_dir):
    """The composed ingest front door RUN AS A STREAM ⇄ batch parity —
    VERDICT r09 item 4 delivered: new documents arrive as a real
    3-file in-event-time-order replay, and the whole gate — quality,
    lang, both corpus screens, the verdict fold — executes as ONE
    streaming DAG under ONE 30 s watermark with ONE stateful operator
    (the watermarked per-document max-aggregation; the screens run in
    their pre-dedup event forms, which the existence verdict is
    insensitive to). State is one row per in-flight document, EVICTED
    once the watermark passes its ingest time — the unbounded-crawl
    form. Two far-future sentinel files (doc −1/−2, the
    q_stream_leftouter_join_parity flush recipe) advance the watermark
    so every real verdict emits inside a data batch; sentinels are
    filtered from the returned table (the late one never emits — the
    watermark never passes it).

    Oracle: identical to q_ingest_gate's — each evidence event depends
    only on its own document(s), every real document's verdict emits,
    so streaming ≡ batch whatever the boundaries.

    Scale: the crawl front door that never stops — per-batch cost is
    the map-side gates plus O(batch candidates) probe joins; no state
    grows with corpus size or crawl age."""
    from incubator_flink_old_spark.operators.text import (
        streaming_ingest_gate,
    )
    from incubator_flink_old_spark.streaming import replay_source, stream_result

    docs = t(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % _D_MOD == _D_REM
    corpus = docs.filter(~is_new)
    with staged() as st, replay_source(
        _gate_replay(docs.filter(is_new))
    ) as stream:
        out = streaming_ingest_gate(
            stream,
            corpus,
            langs=_GATE_LANGS,
            num_hashes=_NDS_HASHES,
            band_size=_NDS_BAND,
            jaccard_threshold=_NDS_THRESHOLD,
            k=_WIN_K,
            w=_WIN_W,
            max_df=_WIN_MAX_DF,
            event_time="ts",
            watermark_delay="30 seconds",
            stage=st,
        )
        verdicts = stream_result(out, "append", state_partitions=4)
    return verdicts.filter(F.col("doc_id") >= 0)


# --------------------------------------------------------------------------
# Winnow-tier drift audit: the q_drift_retrain discipline for the span-dedup
# index's stop-gram cap (the one index family without a drift story)
# --------------------------------------------------------------------------

_DRIFT_MAX_DF = 25
_DRIFT_MIN_SKEW = 4.0
#: Injected boilerplate: ten tokens outside the fixture vocabulary, long
#: enough (> w+k-1) that its interior winnow windows select the SAME
#: fingerprints in every delta document — a deterministic stand-in for
#: new crawl boilerplate (cookie banners, nav chrome) both engines replay.
_DRIFT_BOILER = "zyx0q wvu1r tsr2s qpo3t nml4u kji5v hgf6w edc7x baz8y xwv9z"


def _winnow_drift_oracle() -> str:
    from incubator_flink_old_spark.queries.llm_ops29 import _winnow_ctes

    cap, mod, rem = _DRIFT_MAX_DF, _D_MOD, _D_REM
    return rf"""
    WITH bd AS (
        SELECT doc_id, text FROM documents WHERE doc_id % {mod} <> {rem}),
    dd AS (
        SELECT doc_id, text || ' {_DRIFT_BOILER}' AS text
        FROM documents WHERE doc_id % {mod} = {rem}),
    {_winnow_ctes(src="bd", prefix="b")},
    {_winnow_ctes(src="dd", prefix="d")},
    bs AS (SELECT h AS fp, COUNT(DISTINCT doc_id) AS df FROM bsel GROUP BY h),
    ds AS (SELECT h AS fp, COUNT(DISTINCT doc_id) AS df FROM dsel GROUP BY h),
    mm AS (
        SELECT COALESCE(b.fp, d.fp) AS fp,
               COALESCE(b.df, 0) AS df_base,
               COALESCE(d.df, 0) AS df_delta,
               COALESCE(b.df, 0) + COALESCE(d.df, 0) AS df_merged
        FROM bs b FULL JOIN ds d ON b.fp = d.fp),
    cnt AS (
        SELECT CAST((SELECT COUNT(*) FROM documents
                     WHERE doc_id % {mod} <> {rem}) AS DOUBLE) AS nb,
               CAST((SELECT COUNT(*) FROM documents
                     WHERE doc_id % {mod} = {rem}) AS DOUBLE) AS nd),
    sk AS (
        SELECT (SELECT MAX(CAST(df_delta AS DOUBLE) / df_merged)
                FROM mm WHERE df_merged > {cap})
               / (nd / (nb + nd)) AS fp_skew
        FROM cnt)
    SELECT mm.fp,
           CAST(df_base AS BIGINT) AS df_base,
           CAST(df_delta AS BIGINT) AS df_delta,
           CAST(df_merged AS BIGINT) AS df_merged,
           df_merged > {cap} AS newly_hot,
           sk.fp_skew AS fp_skew
    FROM mm CROSS JOIN sk
    WHERE (df_base <= {cap}) <> (df_merged <= {cap})
    """


@register("q_winnow_drift_refresh", oracle=_winnow_drift_oracle())
def q_winnow_drift_refresh(spark, sf_dir):
    """WINNOW-TIER DRIFT AUDIT + CAP REFRESH (VERDICT r09 item 5 —
    operators/text.winnow_drift_audit): a deliberately-drifted delta
    (every new document gains the same out-of-vocabulary boilerplate
    suffix — the crawl's new cookie banner) is absorbed into the frozen
    span-dedup index; the audit compares each over-cap fingerprint's
    DELTA CONCENTRATION df_delta/df_merged against the global delta
    share (the q_drift_retrain cell-skew recipe on the df table) and
    trips at fp_skew = 5.0 — the boilerplate fingerprints are 100%%
    delta mass against a 20%% share — where a clean split measures NO
    over-cap fingerprint at this cap at any fixture scale (law test:
    the un-tripped gate raises). The emitted rows are the cap REFRESH
    list: every fingerprint whose stop-gram decision changes, carrying
    the audit value that justified the refresh.

    The operational claim this row pins: the frozen cap CANNOT stop
    boilerplate it has never seen — new ubiquitous spans sail through
    the serve join growing f²/2 candidate pairs — and the detector that
    says "refresh now" reads two digest-sized df tables, never the
    corpus. Refresh itself is free: the merged stats ARE the refreshed
    index (merge_winnow_stats), so recovery is a metadata swap.

    Scale: full-outer join of two (fp, df) digests + a 1-row reduce;
    the boilerplate injection is the fixture's drift, not operator
    cost."""
    from incubator_flink_old_spark.operators.text import (
        winnow_drift_audit,
        winnow_fingerprints,
        winnow_index_stats,
    )

    docs = t(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % _D_MOD == _D_REM
    base = docs.filter(~is_new).select("doc_id", "text")
    delta = docs.filter(is_new).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" " + _DRIFT_BOILER)).alias("text"),
    )
    bs = winnow_index_stats(
        winnow_fingerprints(base, k=_WIN_K, w=_WIN_W, hashes_only=True)
    )
    ds = winnow_index_stats(
        winnow_fingerprints(delta, k=_WIN_K, w=_WIN_W, hashes_only=True)
    )
    n_base = base.count()  # bounded: 1-row action (corpus cardinality)
    n_delta = delta.count()  # bounded: 1-row action
    # The stage releases the audit's digest also when its not-tripped
    # ValueError propagates; the 3-row refresh list reading it is pinned.
    with staged() as st:
        out = winnow_drift_audit(
            bs,
            ds,
            max_df=_DRIFT_MAX_DF,
            n_base=n_base,
            n_delta=n_delta,
            min_skew=_DRIFT_MIN_SKEW,
            stage=st,
        )
        return out.localCheckpoint(eager=True)


# --------------------------------------------------------------------------
# Serve operating point: the recall half of the n_probe sweep (PERF.md
# "Round 7: recall-vs-n_probe") as a
# driver-checked row — pinning the production (n_probe, refine_c) the way
# q_drift_retrain pinned the maintenance recipe
# --------------------------------------------------------------------------

#: The production operating point (n_probe=3 of 8 cells, refine_c=20 =
#: 4x the final k) bracketed on both knobs: one fewer/more probe mass
#: and a starved shortlist. The sweep tool measures the full curve with
#: walls; this row hash-checks the recall column's corners cross-engine.
_OP_CONFIGS = ((1, 20), (3, 5), (3, 20), (8, 20))
_OP_PROD = (3, 20)


def _operating_point_oracle() -> str:
    from incubator_flink_old_spark.queries.llm_ops11 import (
        _N_QUERIES,
        _TOPK,
        _grid_ivf_ctes,
        _sql_cos,
    )
    from incubator_flink_old_spark.queries.llm_ops18 import (
        _sq_ctes,
        _sq_sql_sqdist,
    )

    ivf_ctes, last_centers = _grid_ivf_ctes()
    # ONE training + encoding chain; only the probe/shortlist tails vary
    # per config (exactly the shared-work shape the Spark body uses).
    tails, selects = [], []
    for np_, rc in _OP_CONFIGS:
        tag = f"p{np_}c{rc}"
        tails.append(f"""
    pr{tag} AS (
        SELECT q_id, cell FROM (
            SELECT q.q_id, c.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.q_id
                       ORDER BY {_sql_cos('q.qk', 'c.cv')} DESC, c.cell
                   ) AS rn
            FROM qg q CROSS JOIN {last_centers} c) t
        WHERE rn <= {np_}),
    sl{tag} AS (
        SELECT q_id, vec_id FROM (
            SELECT ic.q_id, ic.vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY ic.q_id
                       ORDER BY {_sq_sql_sqdist('qc.code', 'cc.code')},
                                ic.vec_id) AS rn
            FROM (SELECT p.q_id, a.vec_id
                  FROM pr{tag} p JOIN af a ON p.cell = a.cell) ic
            JOIN codes cc ON ic.vec_id = cc.vec_id
            JOIN codes qc ON qc.vec_id = ic.q_id) t
        WHERE rn <= {rc}),
    it{tag} AS (
        SELECT q_id, vec_id FROM (
            SELECT sl.q_id, sl.vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY sl.q_id
                       ORDER BY {_sq_sql_sqdist('qe.k', 'ce.k')},
                                sl.vec_id) AS rn
            FROM sl{tag} sl
            JOIN e ce ON sl.vec_id = ce.vec_id
            JOIN e qe ON qe.vec_id = sl.q_id) t
        WHERE rn <= {_TOPK})""")
        is_prod = "TRUE" if (np_, rc) == _OP_PROD else "FALSE"
        selects.append(f"""
    SELECT CAST({np_} AS BIGINT) AS n_probe, CAST({rc} AS BIGINT) AS refine_c,
           {is_prod} AS is_production,
           CAST((SELECT COUNT(*) FROM bt b JOIN it{tag} i
                 ON b.q_id = i.q_id AND b.vec_id = i.vec_id) AS BIGINT)
               AS hits,
           CAST((SELECT COUNT(*) FROM bt b JOIN it{tag} i
                 ON b.q_id = i.q_id AND b.vec_id = i.vec_id) AS DOUBLE)
               / {_N_QUERIES * _TOPK}.0 AS mean_recall""")
    return f"""
    WITH {ivf_ctes},
    {_sq_ctes()},
    qg AS (SELECT vec_id AS q_id, k AS qk FROM e WHERE vec_id < {_N_QUERIES}),
    bt AS (
        SELECT q_id, vec_id FROM (
            SELECT q.vec_id AS q_id, c.vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_sq_sql_sqdist('q.k', 'c.k')}, c.vec_id) AS rn
            FROM e q CROSS JOIN e c WHERE q.vec_id < {_N_QUERIES}) t
        WHERE rn <= {_TOPK}),
    {','.join(tails)}
    {' UNION ALL '.join(selects)}
    """


@register("q_serve_operating_point", oracle=_operating_point_oracle())
def q_serve_operating_point(spark, sf_dir):
    """SERVE OPERATING POINT (VERDICT r09 item 6): the production ANN
    serving configuration — n_probe=3 of 8 cells, refine_c=20 (4x the
    final k) — pinned as a driver-checked row alongside its bracketing
    knob settings, the recall half of the recall-vs-cost table in
    PERF.md "Round 7: recall-vs-n_probe" as a hash-checked artifact.
    Four configs run the SHIPPED serve body (_refine_ranked, the
    q_ann_recall_ivfsq8_refine recipe): one probe fewer (1,20), a
    starved shortlist (3,5), the production point (3,20), and all-cells
    (8,20) — the lossless ceiling the refine law guarantees. Each row
    reports exact hit counts against the full-precision ground truth
    and the mean recall@5 (a single division of exact integers). The deployment
    claim this pins: what the chosen point buys relative to each
    neighboring knob, measured on the shipped code path — the serving
    analogue of what q_drift_retrain pinned for maintenance.

    Scale: the train/encode work is shared across configs — ONE Lloyd
    train, ONE SQ8 encode, ONE brute-force truth (_serve_artifacts,
    pinned below so the four config branches read the shared frames
    instead of re-deriving them; VERDICT r10 item 1 — this row used to
    retrain per config, value-identically by the grid_ivf exactness
    laws but at 4x the bounded cost). Per-config serve cost is just
    the probe scan + code-rank shortlist + refine point reads, exactly
    the production shape. The brute-force truth arm is bounded to the
    20-query sample; the pinned artifacts are released after the 4-row
    result materializes."""
    from incubator_flink_old_spark.queries.llm_ops11 import (
        _N_QUERIES,
        _TOPK,
    )
    from incubator_flink_old_spark.queries.llm_ops26 import (
        _refine_ranked,
        _serve_artifacts,
    )

    arts = _serve_artifacts(spark, sf_dir)
    # Pin the per-vector artifacts every config branch re-reads — a
    # shared DataFrame is NOT a shared execution, so without the pin
    # each of the 4 plan branches would re-derive cells/codes/kd at
    # action time (centers is already an eager checkpoint inside
    # grid_ivf). ONE merged (vec_id, cell, code, kd) frame = one
    # materialize job instead of three; the scope releases it once the
    # 4-row result materializes. bt is referenced exactly once (the
    # single truth join below), so it needs no pin.
    with staged() as st:
        vecs = st.keep(
            arts["cells"]
            .join(arts["codes"], on="vec_id")
            .join(arts["kd"], on="vec_id")
            .localCheckpoint(eager=True)
        )
        arts["cells"] = vecs.select("vec_id", "cell")
        arts["codes"] = vecs.select("vec_id", "code")
        arts["kd"] = vecs.select("vec_id", "kd")
        # qcodes/qk too (review finding): their _serve_artifacts plans
        # hang off the ORIGINAL codes/kd lineage, and the SQ8 encode
        # under qcodes embeds a global per-dimension bounds aggregate
        # that a vec_id filter cannot prune — left unthreaded, each of
        # the 4 config branches would re-run that full-corpus pass.
        qv = vecs.filter(F.col("vec_id") < _N_QUERIES)
        arts["qcodes"] = qv.select(
            F.col("vec_id").alias("q_id"), F.col("code").alias("qcode")
        )
        arts["qk"] = qv.select(
            F.col("vec_id").alias("q_id"), F.col("kd").alias("qv")
        )
        allit = None
        for np_, rc in _OP_CONFIGS:
            it, _ = _refine_ranked(
                spark, sf_dir, refine_c=rc, n_probe=np_, artifacts=arts
            )
            it = it.select(
                F.lit(np_).cast("long").alias("n_probe"),
                F.lit(rc).cast("long").alias("refine_c"),
                "q_id",
                "vec_id",
            )
            allit = it if allit is None else allit.unionByName(it)
        # ONE truth join + one digest groupBy scores all 4 configs in a
        # single job; the config frame left-join keeps a zero-hit
        # config visible (the oracle always emits its row).
        hits = (
            arts["bt"]
            .join(allit, on=["q_id", "vec_id"])
            .groupBy("n_probe", "refine_c")
            .agg(F.count(F.lit(1)).alias("hits"))
        )
        cfg = local_rows(
            spark,
            [(int(a), int(b)) for a, b in _OP_CONFIGS],
            "n_probe long, refine_c long",
        )
        out = cfg.join(hits, on=["n_probe", "refine_c"], how="left").select(
            "n_probe",
            "refine_c",
            (
                (F.col("n_probe") == _OP_PROD[0])
                & (F.col("refine_c") == _OP_PROD[1])
            ).alias("is_production"),
            F.coalesce("hits", F.lit(0)).cast("long").alias("hits"),
            (
                F.coalesce("hits", F.lit(0)).cast("double")
                / (_N_QUERIES * _TOPK)
            ).alias("mean_recall"),
        )
        # Materialize the 4-row table BEFORE releasing the pin — a
        # checkpoint's blocks cannot be recomputed once dropped.
        return out.localCheckpoint(eager=True)


# --------------------------------------------------------------------------
# Ingest lifecycle: admitted documents join the corpus and screen the next
# wave — the retrieval-lifecycle discipline applied to the front door
# --------------------------------------------------------------------------


def _ingest_lifecycle_oracle() -> str:
    """Two stitched gate oracles: wave 1 (doc_id%5==3) screens against
    the standing corpus (doc_id%5<=2); wave 2 (doc_id%5==4) screens
    against corpus ∪ wave-1 ADMITS — the admitted set is derived inside
    the oracle from wave 1's own verdicts, so the absorption loop is
    replayed end-to-end in SQL."""
    g1 = _ingest_gate_oracle(
        new_pred="doc_id % 5 = 3",
        scope_pred="doc_id % 5 <= 3",
        screens=("neardup",),
    )
    g2 = _ingest_gate_oracle(
        new_pred="doc_id % 5 = 4",
        scope_pred=(
            "doc_id % 5 <= 2 OR doc_id % 5 = 4"
            " OR doc_id IN (SELECT doc_id FROM g1 WHERE admit)"
        ),
        screens=("neardup",),
    )
    return f"""
    WITH g1 AS MATERIALIZED ({g1}),
    g2 AS MATERIALIZED ({g2})
    SELECT CAST(1 AS BIGINT) AS wave, * FROM g1
    UNION ALL
    SELECT CAST(2 AS BIGINT) AS wave, * FROM g2
    """


@register("q_ingest_lifecycle", oracle=_ingest_lifecycle_oracle())
def q_ingest_lifecycle(spark, sf_dir):
    """INGEST LIFECYCLE — the front door's absorption loop end-to-end
    (the q_retrieval_lifecycle discipline applied to text ingest): wave
    1 arrivals are screened against the standing corpus (quality + lang
    + verified near-dup; the near-dup arm alone — the fixture corpus is
    winnow-span-saturated, documented in test_wave45, so the span gate
    admits nothing at any knob and would make the loop vacuous), its
    ADMITTED documents join the corpus, and wave 2 is screened against
    corpus ∪ admits — a wave-2 near-copy of a just-admitted page is
    rejected even though nothing in the original corpus resembles it
    (pinned at sf0.001 in the law test: absorption flags a document the
    frozen corpus misses). The oracle derives the admitted set from
    wave 1's own verdicts inside one SQL statement — the loop is
    replayed, not assumed.

    Scale: absorption at 100 TB is an artifact merge, not a corpus
    rebuild — admitted docs' band rows append to the band table and
    their winnowed dfs integer-merge (q_winnow_incremental /
    merge_bm25_stats posture); this row's recompute-from-union is the
    ORACLE discipline, while the engine path stays O(wave). Per-wave
    serve cost is unchanged from q_ingest_gate."""
    from incubator_flink_old_spark.operators.text import (
        streaming_ingest_gate,
    )

    docs = t(spark, sf_dir, "documents")
    m5 = F.col("doc_id") % 5
    corpus0 = docs.filter(m5 <= 2)
    wave1 = docs.filter(m5 == 3).select("doc_id", "text", "lang")
    wave2 = docs.filter(m5 == 4).select("doc_id", "text", "lang")
    kw = dict(
        langs=_GATE_LANGS,
        num_hashes=_NDS_HASHES,
        band_size=_NDS_BAND,
        jaccard_threshold=_NDS_THRESHOLD,
        screens=("neardup",),
    )
    g1 = streaming_ingest_gate(wave1, corpus0, **kw)
    admitted1 = wave1.join(
        g1.filter(F.col("admit")).select("doc_id"), on="doc_id"
    )
    corpus1 = corpus0.select("doc_id", "text").unionByName(
        admitted1.select("doc_id", "text")
    )
    g2 = streaming_ingest_gate(wave2, corpus1, **kw)

    def tag(g, wave):
        # wave FIRST to mirror the oracle's column order — the in-repo
        # gate compares positionally (the driver sorts by name).
        return g.select(F.lit(wave).cast("long").alias("wave"), "*")

    return tag(g1, 1).unionByName(tag(g2, 2))
