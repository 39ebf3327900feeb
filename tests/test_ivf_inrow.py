"""Focused equivalence tests for the r13 in-row IVF cell assignment /
query-cell ranking (similarity._assign_cells / _rank_query_cells):
the array_max / sort_array struct ordering must reproduce the old
``row_number() OVER (ORDER BY acos DESC, cell ASC)`` decisions,
including cosine ties and NULL (zero-norm) cosines."""

from __future__ import annotations

import pytest

from dask_sql_spark.operators.similarity import (
    _assign_cells,
    _collect_codebook,
    _rank_query_cells,
    ivf_build_index,
)

# cell 2 and cell 0 are IDENTICAL centroids → every vector's cosine
# ties between them; the tie must break toward the smaller cell id
_CENTS = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 0.0])]


@pytest.fixture(scope="module")
def cents(spark):
    return _collect_codebook(
        spark.createDataFrame(_CENTS, "cell INT, centroid ARRAY<DOUBLE>")
    )


def test_assign_max_cosine_and_tie_break(spark, cents):
    c = spark.createDataFrame(
        [
            (10, [2.0, 0.1]),   # closest to x-axis → tie cells 0/2 → 0
            (11, [0.1, 3.0]),   # closest to y-axis → cell 1
            (12, [0.0, 0.0]),   # zero norm: every cosine NULL → cell 0
        ],
        "id_b BIGINT, vb ARRAY<DOUBLE>",
    )
    out = {
        r["id_b"]: r["cell"] for r in _assign_cells(c, cents).collect()
    }
    assert out == {10: 0, 11: 1, 12: 0}


def test_rank_query_cells_order_and_ties(spark, cents):
    q = spark.createDataFrame(
        [(1, [1.0, 1.0])], "query_id BIGINT, vq ARRAY<DOUBLE>"
    )
    # cos equal against all three centroids → order purely by cell asc
    rows = _rank_query_cells(q, cents, 2).orderBy("cell").collect()
    assert [r["cell"] for r in rows] == [0, 1]
    # n_probe beyond n_cells returns all cells, never duplicates
    rows = _rank_query_cells(q, cents, 10).orderBy("cell").collect()
    assert [r["cell"] for r in rows] == [0, 1, 2]


def test_zero_norm_query_ranks_by_cell(spark, cents):
    q = spark.createDataFrame(
        [(7, [0.0, 0.0])], "query_id BIGINT, vq ARRAY<DOUBLE>"
    )
    rows = _rank_query_cells(q, cents, 2).orderBy("cell").collect()
    # all cosines NULL → the old DESC NULLS LAST window ranked by cell
    assert [r["cell"] for r in rows] == [0, 1]


def test_empty_codebook_and_zero_probe(spark, cents):
    c = spark.createDataFrame(
        [(1, [1.0, 0.0])], "id_b BIGINT, vb ARRAY<DOUBLE>"
    )
    assert _assign_cells(c, []).count() == 0
    q = spark.createDataFrame(
        [(1, [1.0, 0.0])], "query_id BIGINT, vq ARRAY<DOUBLE>"
    )
    assert _rank_query_cells(q, cents, 0).count() == 0


def test_float32_codebook_assigns_like_float64(spark, tmp_path):
    """The codebook boundary casts centroids to ARRAY<DOUBLE>: a float32
    codebook whose components are exact in float32 must assign every
    vector to the same cell as the float64 one, and the persisted index
    keeps the documented ARRAY<DOUBLE> codebook."""
    import numpy as np

    rng = np.random.RandomState(7)
    # multiples of 1/8 are exact in float32, so both codebooks hold the
    # same values and only the column type differs
    cent = [(i, [float(x) for x in rng.randint(-8, 9, 4) / 8]) for i in range(6)]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(4)]) for i in range(60)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )

    def build(ctype):
        path = str(tmp_path / ctype)
        cents = spark.createDataFrame(cent, f"cell INT, centroid ARRAY<{ctype}>")
        ivf_build_index(emb, path, centroids=cents)
        stored = spark.read.parquet(f"{path}/centroids")
        assert stored.schema["centroid"].dataType.simpleString() == "array<double>"
        corpus = spark.read.parquet(f"{path}/corpus").collect()
        return {r["id_b"]: r["cell"] for r in corpus}

    cells = build("DOUBLE")
    assert build("FLOAT") == cells
    assert len(set(cells.values())) > 1  # not a degenerate split


def test_non_finite_centroid_raises_value_error(spark, tmp_path):
    """A NaN centroid component has no SQL literal: it must fail at plan
    build with a ValueError naming the cell, not a SQL parse error."""
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [float("nan"), 1.0])],
        "cell INT, centroid ARRAY<DOUBLE>",
    )
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    with pytest.raises(ValueError, match="cell 1"):
        ivf_build_index(emb, str(tmp_path / "idx"), centroids=cent)
