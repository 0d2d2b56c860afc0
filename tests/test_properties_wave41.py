"""Property-based tests for the round-7 maintenance operators: the
split-invariance laws must hold for ANY partition of the corpus, not
just the shipped mod-5 split — random splits of random frames probe the
algebra itself. Example counts are low (each example runs Spark jobs)."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from incubator_flink_old_spark.sources import from_elements

SETTINGS = dict(max_examples=6, deadline=None)

#: Random (doc_id, text) corpora over a tiny vocabulary that includes
#: the shipped query terms, plus a random base/delta split mask.
_WORDS = ("hash", "join", "scan", "filter", "the", "x")
docs_and_split = st.lists(
    st.tuples(
        st.lists(st.sampled_from(_WORDS), min_size=1, max_size=6),
        st.booleans(),
    ),
    min_size=2,
    max_size=10,
)


@given(rows=docs_and_split)
@settings(**SETTINGS)
def test_bm25_stats_merge_split_invariant(spark, rows):
    """merge(stats(base), stats(delta)) must equal stats(base ∪ delta)
    value-for-value for ANY split — doc/token counts are integer sums
    and dft unions by term, so no partition of the corpus can change
    the merged statistics."""
    from incubator_flink_old_spark.operators.retrieval import (
        bm25_index_stats,
        merge_bm25_stats,
    )

    terms = ("hash", "join", "scan")
    data = [
        (i, " ".join(words), is_base)
        for i, (words, is_base) in enumerate(rows)
    ]
    df = from_elements(spark, data, "doc_id long, text string, is_base boolean")
    base, delta = df.filter("is_base"), df.filter("NOT is_base")
    merged_s, merged_d = merge_bm25_stats(
        bm25_index_stats(base, terms), bm25_index_stats(delta, terms)
    )
    full_s, full_d = merge_bm25_stats(bm25_index_stats(df, terms))
    assert merged_s.first().asDict() == full_s.first().asDict()
    md = {r.w: r.dft for r in merged_d.collect()}
    fd = {r.w: r.dft for r in full_d.collect()}
    assert md == fd


#: Random small embedding corpora (3-dim, integer-ish floats) + split.
vecs_and_split = st.lists(
    st.tuples(
        st.lists(
            st.floats(-0.5, 0.5, allow_nan=False, width=32),
            min_size=3,
            max_size=3,
        ),
        st.booleans(),
    ),
    min_size=2,
    max_size=10,
)


@given(rows=vecs_and_split)
@settings(**SETTINGS)
def test_grid_assign_split_invariant(spark, rows):
    """Assignment to frozen centers is row-local: assigning base and
    delta separately must equal assigning the union, for ANY split and
    ANY (corpus-derived) centers."""
    from incubator_flink_old_spark.operators.similarity import (
        grid_assign_map,
        grid_ivf,
    )

    data = [
        (i, [float(x) for x in vec], is_base)
        for i, (vec, is_base) in enumerate(rows)
    ]
    df = from_elements(
        spark, data, "vec_id long, embedding array<double>, is_base boolean"
    )
    n_cells = min(2, len(data))
    _, centers = grid_ivf(df, n_cells=n_cells, iters=1)
    rows = centers.collect()
    whole = {(r.vec_id, r.cell) for r in grid_assign_map(df, rows).collect()}
    parts = {
        (r.vec_id, r.cell)
        for r in grid_assign_map(df.filter("is_base"), rows).collect()
    } | {
        (r.vec_id, r.cell)
        for r in grid_assign_map(df.filter("NOT is_base"), rows).collect()
    }
    assert parts == whole


@given(rows=vecs_and_split)
@settings(**SETTINGS)
def test_sq_codes_clamp_in_bounds_identity(spark, rows):
    """Frozen-bounds clamped encoding must agree with plain encoding on
    every vector whose dims are all inside the frozen bounds — the
    clamp may only ever touch out-of-bounds values. Bounds come from
    the base split; in-bounds delta vectors must encode as if the
    bounds were their own."""
    from incubator_flink_old_spark.queries.llm_ops18 import (
        _sq_bounds,
        _sq_codes,
    )

    data = [
        (i, [float(x) for x in vec], is_base)
        for i, (vec, is_base) in enumerate(rows)
    ]
    df = from_elements(
        spark, data, "vec_id long, embedding array<double>, is_base boolean"
    )
    base = df.filter("is_base")
    if base.count() == 0:
        return
    grid = F.transform(
        "embedding", lambda x: F.floor(x * F.lit(1_000_000.0)).cast("long")
    )
    eg_base = base.select("vec_id", grid.alias("k"))
    eg_all = df.select("vec_id", grid.alias("k"))
    bounds = _sq_bounds(eg_base)
    brows = {r.p: (r.lo, r.hi) for r in bounds.collect()}
    frozen = {
        r.vec_id: r.code
        for r in _sq_codes(eg_all, bounds=bounds, clamp=True).collect()
    }
    # reference: encode the union against the SAME bounds without clamp
    plain = {
        r.vec_id: r.code for r in _sq_codes(eg_all, bounds=bounds).collect()
    }
    for r in eg_all.collect():
        in_bounds = all(
            brows[p + 1][0] <= v <= brows[p + 1][1]
            for p, v in enumerate(r.k)
        )
        if in_bounds:
            assert frozen[r.vec_id] == plain[r.vec_id]
        else:
            assert all(0 <= c <= 255 for c in frozen[r.vec_id])
