"""Property tests for the operators' SQL-text builder
(dask_sql_spark/operators/util.py): literals and identifiers built by
``str_lit``/``dbl``/``ident`` must parse back to exactly the value or
column they name, whatever the text holds."""

from __future__ import annotations

import math
import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dask_sql_spark.operators.util import dbl, ident, str_lit


@settings(max_examples=40, deadline=None)
@given(st.lists(st.text(max_size=12), min_size=1, max_size=8))
def test_str_lit_round_trips(spark, texts):
    # quotes, backslashes, escape-looking sequences and ${var} text are
    # the hostile cases; the alphabet of st.text covers them
    texts = texts + ["it's", "a\\nb", "\\", "''", "${spark.app.name}"]
    row = spark.range(1).selectExpr(*map(str_lit, texts)).first()
    assert list(row) == texts


_FINITE = st.floats(allow_nan=False, allow_infinity=False)


@settings(max_examples=40, deadline=None)
@given(st.lists(_FINITE, min_size=1, max_size=8))
def test_dbl_round_trips_bit_exact(spark, xs):
    xs = xs + [-0.0, 5e-324, 1.7976931348623157e308, 0.1]
    row = spark.range(1).selectExpr(*map(dbl, xs)).first()
    assert [struct.pack("<d", v) for v in row] == [
        struct.pack("<d", x) for x in xs
    ]


@pytest.mark.parametrize("x", [math.nan, math.inf, -math.inf])
def test_dbl_rejects_non_finite(x):
    with pytest.raises(ValueError):
        dbl(x)


_NAMES = st.text(min_size=1, max_size=10).filter(
    lambda s: "." not in s and "${" not in s
)


@settings(max_examples=30, deadline=None)
@given(_NAMES)
def test_ident_resolves_hostile_names(spark, name):
    df = spark.range(1).selectExpr("41 AS x").withColumnRenamed("x", name)
    assert df.selectExpr(f"{ident(name)} + 1").first()[0] == 42


@pytest.mark.parametrize("name", ["a.b", "s.field", "${env:HOME}"])
def test_ident_rejects_dotted_and_substituted_names(name):
    with pytest.raises(ValueError):
        ident(name)


def test_zorder_key_hostile_column_names(spark):
    """Names with a space and a dash get the same Z-order key as plain
    names over the same values."""
    from dask_sql_spark.operators.zorder import with_zorder_key

    rows = [(i, (i * 7) % 13) for i in range(20)]
    plain = with_zorder_key(
        spark.createDataFrame(rows, "x INT, y INT"), ["x", "y"], bits=4
    )
    hostile = with_zorder_key(
        spark.createDataFrame(rows, "`a b` INT, `c-d` INT"),
        ["a b", "c-d"],
        bits=4,
    )
    assert hostile.columns == ["a b", "c-d", "zkey"]
    assert sorted(tuple(r) for r in hostile.collect()) == sorted(
        tuple(r) for r in plain.collect()
    )
