"""UDF / UDAF registration tests (reference test_function.py, 11 tests)."""

import numpy as np
import pandas as pd
import pytest

from dask_sql_spark import Aggregation


def test_column_udf(context):
    def double_it(x):
        return x * 2

    context.register_function(
        double_it, "double_it", [("x", np.int64)], np.int64, replace=True
    )
    rows = context.sql("SELECT double_it(a) AS d FROM df_simple").collect()
    assert sorted(r.d for r in rows) == [2, 4, 6]


def test_udf_case_insensitive_names(context):
    def triple(x):
        return x * 3

    context.register_function(
        triple, "TripleIt", [("x", np.int64)], np.int64, replace=True
    )
    rows = context.sql("SELECT TRIPLEIT(a) AS t FROM df_simple").collect()
    assert sorted(r.t for r in rows) == [3, 6, 9]
    for spelling in ("tripleit", "tRiPlEiT"):
        rows = context.sql(f"SELECT {spelling}(a) AS t FROM df_simple").collect()
        assert len(rows) == 3
    _one_registration(context, "TripleIt")


def test_row_udf(context):
    def add_one(x):
        return x + 1

    context.register_function(
        add_one, "row_add_one", [("x", np.int64)], np.int64,
        row_udf=True, replace=True,
    )
    rows = context.sql("SELECT row_add_one(a) AS r FROM df_simple").collect()
    assert sorted(r.r for r in rows) == [2, 3, 4]


def test_udf_float_return(context):
    def halve(x):
        return x / 2.0

    context.register_function(
        halve, "halve", [("x", np.float64)], np.float64, replace=True
    )
    rows = context.sql("SELECT halve(b) AS h FROM df_simple").collect()
    assert sorted(round(r.h, 2) for r in rows) == [0.55, 1.1, 1.65]


def test_duplicate_registration_raises(context):
    def f1(x):
        return x

    def f2(x):
        return x + 1

    context.register_function(f1, "dupe_f", [("x", np.int64)], np.int64, replace=True)
    with pytest.raises(ValueError):
        context.register_function(f2, "dupe_f", [("x", np.int64)], np.int64)


def _one_registration(context, name: str) -> None:
    """Spark resolves function names case-insensitively: one registration
    answers every spelling and lists once, in lower case."""
    listed = [f.name for f in context.spark.catalog.listFunctions()]
    assert listed.count(name.lower()) == 1


def test_aggregation_triphase(context):
    agg = Aggregation(
        "range_agg",
        chunk=lambda s: s.max() - s.min(),
        agg=lambda s: s.max(),
    )
    context.register_aggregation(
        agg, "range_agg", [("x", np.int64)], np.int64, replace=True
    )
    row = context.sql(
        "SELECT range_agg(b) AS r FROM user_table_1"
    ).collect()[0]
    assert row.r == 2  # max(3) - min(1)


def test_aggregation_plain_callable(context):
    context.register_aggregation(
        lambda s: float(s.sum()), "plain_sum", [("x", np.float64)], np.float64,
        replace=True,
    )
    row = context.sql("SELECT plain_sum(a) AS s FROM df_simple").collect()[0]
    assert row.s == 6.0


def test_aggregation_with_groupby(context):
    context.register_aggregation(
        lambda s: float(s.mean()), "my_mean", [("x", np.float64)], np.float64,
        replace=True,
    )
    rows = context.sql(
        "SELECT user_id, my_mean(b) AS m FROM user_table_1 GROUP BY user_id"
    ).collect()
    by_user = {r.user_id: r.m for r in rows}
    assert by_user[2] == 2.0 and by_user[1] == 3.0


def test_udtf(context):
    class SplitWords:
        def eval(self, text: str):
            for i, w in enumerate(text.split()):
                yield w, i

    context.register_udtf(
        SplitWords, "split_words", "word string, pos int", replace=True
    )
    rows = context.sql(
        "SELECT word, pos FROM split_words('alpha beta gamma')"
    ).collect()
    assert [(r.word, r.pos) for r in rows] == [
        ("alpha", 0), ("beta", 1), ("gamma", 2)
    ]


def test_aggregation_mixed_case_registered_once(context):
    context.register_aggregation(
        lambda s: float(s.sum()), "Mixed_Sum", [("x", np.float64)], np.float64,
        replace=True,
    )
    for spelling in ("mixed_sum", "MIXED_SUM", "mIxEd_SuM"):
        row = context.sql(f"SELECT {spelling}(a) AS s FROM df_simple").collect()[0]
        assert row.s == 6.0
    _one_registration(context, "Mixed_Sum")


def test_udtf_mixed_case_registered_once(context):
    class Repeat:
        def eval(self, word: str, n: int):
            for i in range(n):
                yield word, i

    context.register_udtf(Repeat, "Mixed_Repeat", "w string, i int", replace=True)
    for spelling in ("mixed_repeat", "MIXED_REPEAT", "mIxEd_RePeAt"):
        rows = context.sql(f"SELECT w, i FROM {spelling}('ab', 2)").collect()
        assert [(r.w, r.i) for r in rows] == [("ab", 0), ("ab", 1)]
