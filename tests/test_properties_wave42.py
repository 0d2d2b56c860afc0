"""Property-based tests for the round-8 maintenance operators: the
split-invariance and map≡join laws must hold for ANY partition of the
corpus and ANY (corpus-derived) frozen index — random frames probe the
algebra, not just the shipped mod-5 split. Example counts are low (each
example runs Spark jobs)."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from incubator_flink_old_spark.sources import from_elements

SETTINGS = dict(max_examples=5, deadline=None)

#: Random small embedding corpora (4-dim so m=2 subspaces divide it)
#: plus a random base/delta split mask.
vecs_and_split = st.lists(
    st.tuples(
        st.lists(
            st.floats(-0.5, 0.5, allow_nan=False, width=32),
            min_size=4,
            max_size=4,
        ),
        st.booleans(),
    ),
    min_size=2,
    max_size=10,
)


def _frame(spark, rows):
    data = [
        (i, [float(x) for x in vec], is_base)
        for i, (vec, is_base) in enumerate(rows)
    ]
    return from_elements(
        spark,
        data,
        "vec_id long, embedding array<float>, is_base boolean",
    )


@given(rows=vecs_and_split)
@settings(**SETTINGS)
def test_pq_encode_split_invariant_any_split(spark, rows):
    """Frozen-books encoding is row-local: encoding base and delta
    separately must equal encoding the union, for ANY split and ANY
    (corpus-derived) codebooks — codes AND qerr."""
    from incubator_flink_old_spark.operators.similarity import (
        grid_pq,
        grid_pq_encode_map,
    )

    df = _frame(spark, rows)
    _, books = grid_pq(df, m=2, n_centroids=2, iters=1)
    books = books.collect()

    def enc(d):
        return {
            (r.vec_id, r.j): (r.code, r.qerr)
            for r in grid_pq_encode_map(d, books, m=2).collect()
        }

    whole = enc(df)
    split = {**enc(df.filter("is_base")), **enc(df.filter("NOT is_base"))}
    assert split == whole


@given(rows=vecs_and_split)
@settings(**SETTINGS)
def test_pq_encode_map_equals_join_any_frame(spark, rows):
    """The literal-array fold encoder must equal the join+window
    encoder on ANY frame and ANY trained books — including tie cases
    random grids produce far more often than the fixture."""
    from incubator_flink_old_spark.operators.similarity import (
        grid_pq,
        grid_pq_encode_map,
    )
    from tests.ann_join_reference import grid_pq_encode

    df = _frame(spark, rows)
    _, books = grid_pq(df, m=2, n_centroids=2, iters=1)
    books = books.localCheckpoint(eager=True)
    joined = {
        (r.vec_id, r.j): (r.code, r.qerr)
        for r in grid_pq_encode(df, books).collect()
    }
    mapped = {
        (r.vec_id, r.j): (r.code, r.qerr)
        for r in grid_pq_encode_map(df, books.collect(), m=2).collect()
    }
    assert mapped == joined


@given(rows=vecs_and_split)
@settings(**SETTINGS)
def test_sq8_encode_map_equals_batch_any_frame(spark, rows):
    """The per-dim literal-array encoder must equal the batch clamped
    encoder on ANY frame against ANY (base-derived) frozen bounds —
    random deltas wander outside the bounds constantly, so this probes
    the clamp path hard."""
    from incubator_flink_old_spark.operators.similarity import (
        sq8_encode_map,
    )
    from incubator_flink_old_spark.queries.llm_ops18 import (
        _SQ_LEVELS,
        _grid_vec,
        _sq_bounds,
        _sq_codes,
    )

    df = _frame(spark, rows)
    base = df.filter("is_base")
    if base.count() == 0:
        base = df  # bounds need a non-empty training side
    bounds = _sq_bounds(
        base.select("vec_id", _grid_vec().alias("k"))
    ).localCheckpoint(eager=True)
    batch = {}
    eg = df.select("vec_id", _grid_vec().alias("k"))
    for r in _sq_codes(eg, bounds=bounds, clamp=True).collect():
        for i, c in enumerate(r.code):
            batch[(r.vec_id, i + 1)] = int(c)
    mapped = {
        (r.vec_id, r.p): int(r.c)
        for r in sq8_encode_map(
            df, bounds.collect(), levels=_SQ_LEVELS
        ).collect()
    }
    assert mapped == batch
