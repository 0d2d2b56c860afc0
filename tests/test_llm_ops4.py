"""Unit tests for wave-4 curation operators: duplicate-span detection,
sequence packing, incremental dedup. Handcrafted corpora with hand-computed
expectations; the registered queries' DuckDB twins are covered separately
by the oracle gate."""

from __future__ import annotations

from pyspark.sql import functions as F

from incubator_flink_old_spark.operators.text import (
    duplicate_spans,
    incremental_dedup,
    minhash_lsh_pairs,
    minhash_lsh_pairs_between,
    pack_sequences,
    token_count,
    tokens,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_duplicate_spans_exact_copy(spark):
    # Two identical 10-token docs: every window duplicated, full coverage.
    text = "a b c d e f g h i j"
    df = _docs(spark, [(1, text), (2, text), (3, "k l m n o p q r s t")])
    out = {r["doc_id"]: r for r in duplicate_spans(df, window=4).collect()}
    assert out[1]["dup_windows"] == 7  # 10 - 4 + 1
    assert out[1]["dup_token_frac"] == 1.0
    assert out[2]["dup_token_frac"] == 1.0
    # unique doc SURVIVES with zeros — no silent row loss
    assert out[3]["dup_windows"] == 0
    assert out[3]["dup_token_frac"] == 0.0


def test_duplicate_spans_partial_overlap_merges_intervals(spark):
    # Doc 2 embeds tokens 3..8 of doc 1 (6 shared tokens) inside unique
    # padding. window=4 → shared windows are starts 3,4,5 in doc 1
    # (positions 1-based): slices c-f, d-g, e-h. Coverage in doc 1 =
    # union[3,9) = 6 tokens of 10.
    d1 = "a b c d e f g h i j"
    d2 = "x1 x2 c d e f g h y1 y2"
    df = _docs(spark, [(1, d1), (2, d2)])
    out = {r["doc_id"]: r for r in duplicate_spans(df, window=4).collect()}
    assert out[1]["dup_windows"] == 3
    assert out[1]["dup_token_frac"] == 0.6  # 6/10 merged, not 3*4/10
    assert out[2]["dup_windows"] == 3
    assert out[2]["dup_token_frac"] == 0.6


def test_duplicate_spans_within_doc_repeat_not_counted(spark):
    # A window repeated only WITHIN one doc is not a cross-doc duplicate.
    df = _docs(spark, [(1, "p q r s p q r s"), (2, "u v w x y z a b")])
    out = {r["doc_id"]: r for r in duplicate_spans(df, window=4).collect()}
    assert out[1]["dup_windows"] == 0
    assert out[2]["dup_windows"] == 0


def test_duplicate_spans_null_and_short_docs_survive(spark):
    df = _docs(spark, [(1, None), (2, "one two"), (3, "a b c d e f g h"), (4, "a b c d e f g h")])
    out = {r["doc_id"]: r for r in duplicate_spans(df, window=4).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[1]["n_tokens"] == 0 and out[1]["dup_token_frac"] == 0.0
    assert out[2]["dup_windows"] == 0
    assert out[3]["dup_token_frac"] == 1.0


def test_pack_sequences_invariants(spark):
    rows = [(i, " ".join(f"t{i}w{j}" for j in range(3 + (i % 7) * 5))) for i in range(200)]
    df = _docs(spark, rows)
    out = pack_sequences(df, capacity=32, buckets=4).collect()
    assert len(out) == 200  # every doc packed exactly once
    ntok = {r["doc_id"]: r["n_tok"] for r in out}
    expect = {r[0]: len(r[1].split()) for r in rows}
    assert ntok == expect
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r["bucket"], []).append(r)
    for rs in by_bucket.values():
        rs.sort(key=lambda r: r["doc_id"])
        pos = 0
        for r in rs:
            # contiguous token stream per bucket, chopped every 32 tokens
            assert r["pack_pos"] == pos
            assert r["pack_id"] == pos // 32
            pos += r["n_tok"]


def test_between_pairs_consistent_with_self_pairs(spark):
    # between(A, B) must equal the A×B restriction of the self-join pair
    # list on A∪B (same banding, same verify).
    rows = []
    base = "the quick brown fox jumps over the lazy dog again and again"
    for i in range(30):
        words = base.split()
        words[i % len(words)] = f"mut{i}"
        rows.append((i, " ".join(words)))
    df = _docs(spark, rows)
    a = df.filter("doc_id % 3 = 0")
    b = df.filter("doc_id % 3 <> 0")
    between = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
        for r in minhash_lsh_pairs_between(a, b, band_size=2).collect()
    }
    self_pairs = minhash_lsh_pairs(df, band_size=2).collect()
    expected = set()
    for r in self_pairs:
        x, y = r["doc_a"], r["doc_b"]
        if x % 3 == 0 and y % 3 != 0:
            expected.add((x, y, round(r["jaccard"], 9)))
        elif y % 3 == 0 and x % 3 != 0:
            expected.add((y, x, round(r["jaccard"], 9)))
    assert between == expected


def test_self_pairs_equal_between_pairs_on_one_corpus(spark, sf_dir):
    # Law: the self form and the probe form share one candidate step and
    # one verify tail, so minhash_lsh_pairs(df) is exactly
    # minhash_lsh_pairs_between(df, df) restricted to doc_a < doc_b —
    # ids and jaccard both.
    from incubator_flink_old_spark.queries._util import t

    df = t(spark, sf_dir, "documents")
    for band_size in (2, 4):
        self_pairs = {
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in minhash_lsh_pairs(df, band_size=band_size).collect()
        }
        between = {
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in minhash_lsh_pairs_between(df, df, band_size=band_size)
            .filter(F.col("doc_a") < F.col("doc_b"))
            .collect()
        }
        assert self_pairs, band_size
        assert self_pairs == between, band_size


def test_incremental_dedup_verdicts_verified_brute_force(spark):
    # Random-ish deterministic corpus; verify every verdict against a
    # brute-force exact/near check of new×corpus.
    rows = []
    for i in range(60):
        words = [f"w{(i * 7 + k) % 23}" for k in range(12)]
        rows.append((i, " ".join(words)))
    df = _docs(spark, rows)
    out = {r["doc_id"]: r["verdict"] for r in incremental_dedup(df, split_mod=4, band_size=4).collect()}
    assert out, "split produced no new docs"

    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast("long") % 4
    flagged = df.withColumn("is_new", h == 0).collect()
    new = [(r["doc_id"], r["text"]) for r in flagged if r["is_new"]]
    corpus = [(r["doc_id"], r["text"]) for r in flagged if not r["is_new"]]
    assert set(out) == {i for i, _ in new}

    def norm(t):
        return " ".join(t.lower().split())

    def jac(x, y):
        sx, sy = set(x.lower().split()), set(y.lower().split())
        return len(sx & sy) / len(sx | sy)

    corpus_norms = {norm(t) for _, t in corpus}
    for i, t in new:
        if norm(t) in corpus_norms:
            assert out[i] == "exact_dup", i
        elif out[i] == "keep":
            # keep ⇒ no corpus doc within jaccard 0.7 (banding may miss
            # some, but keep must never contradict an exact match)
            assert norm(t) not in corpus_norms
        else:
            assert out[i] in ("near_dup", "exact_dup")
            if out[i] == "near_dup":
                assert any(jac(t, tc) >= 0.7 for _, tc in corpus), i
