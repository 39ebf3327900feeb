"""Tests of the benchmark itself; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys
from collections import Counter

import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
sys.path[:0] = [BENCH_DIR, os.path.dirname(BENCH_DIR)]

import datagen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

SF = 0.001


@pytest.fixture(scope="module")
def data(tmp_path_factory):
    out = tmp_path_factory.mktemp("data")
    return datagen.generate(str(out), seed=7, sf=SF)


def test_generator_same_seed_same_bytes(tmp_path, data):
    again = datagen.generate(str(tmp_path / "again"), seed=7, sf=SF)
    for name in datagen.TABLES:
        assert filecmp.cmp(data[name], again[name], shallow=False), name


def test_generator_other_seed_other_data(tmp_path, data):
    other = datagen.generate(str(tmp_path / "other"), seed=8, sf=SF)
    assert not filecmp.cmp(data["lineitem"], other["lineitem"], shallow=False)


def test_statement_order_is_seeded():
    def first(seed, n=3):
        passes = workloads.shuffled_passes(workloads.SQL_ANALYTICS, seed)
        return [next(passes) for _ in range(n)]

    assert first(3) == first(3)
    assert first(3) != first(4)
    # every pass runs each statement once
    assert all(sorted(p) == sorted(workloads.SQL_ANALYTICS) for p in first(3))


def test_presto_mix_is_seeded():
    def draws(seed, n=4):
        decks = workloads.presto_decks(seed, 15000)
        return [s["sql"] for _ in range(n) for unit in next(decks) for s in unit]

    assert draws(5) == draws(5)
    assert draws(5) != draws(6)
    deck = next(workloads.presto_decks(5, 15000))
    kinds = Counter(s["kind"] for unit in deck for s in unit)
    # one deck: the mix shares are the same for every seed
    assert kinds == {
        "point": 2, "range_agg": 2, "scan": 1, "udf": 1, "meta": 1,
        "ctas": 1, "ctas_read": 1, "insert": 1, "insert_read": 1, "drop": 1,
    }


def test_presto_loop_sends_whole_decks(monkeypatch):
    sent = []

    def fake_statement(base, sql):
        sent.append(sql)
        return {"sql": sql, "ok": True, "latency_s": 0.0}

    monkeypatch.setattr(workloads, "presto_statement", fake_statement)
    deck = next(workloads.presto_decks(9, 15000))
    statements, _, _ = workloads.presto_loop("", workloads.presto_decks(9, 15000), 3, 1)
    # one deck, every write cycle included
    assert sorted(sent) == sorted(s["sql"] for unit in deck for s in unit)
    assert Counter(st["kind"] for st in statements)["drop"] == 1


def test_dealer_deals_whole_batches_or_until_deadline(monkeypatch):
    clock = [0.0]
    monkeypatch.setattr(workloads.time, "perf_counter", lambda: clock[0])

    def drain(deal, item_s=0.0):
        got = []
        while (item := deal()) is not None:
            got.append(item)
            clock[0] += item_s
        return got

    def batches():
        return iter([["a1", "a2"], ["b1", "b2"], ["c1", "c2"]])

    assert drain(workloads.dealer(batches(), count=2)) == ["a1", "a2", "b1", "b2"]
    # by the clock, dealing stops at the deadline, inside a batch
    assert drain(workloads.dealer(batches(), seconds=10), 4) == ["a1", "a2", "b1"]
    # and always deals one item
    assert drain(workloads.dealer(batches(), seconds=-1)) == ["a1"]


def _spec():
    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as f:
        return json.load(f)


def test_spec_lists_what_the_run_prints():
    spec = _spec()
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == layers.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


@pytest.mark.parametrize("metrics", [run.END_TO_END, layers.PER_LAYER])
def test_every_metric_printed_with_its_unit(metrics):
    values = {name: 1.5 for name, _ in metrics}
    out = json.loads(run.result_line(True, 10, 0, values, metrics))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["metrics"] == {name: {"value": 1.5, "unit": unit} for name, unit in metrics}


class _Frame:
    def __init__(self, df):
        self.df = df

    def toPandas(self):
        return self.df


def test_wrong_closed_loop_result_counts_as_failed(data):
    n_orders = datagen.rows("orders", SF)
    oracles = {"good": "SELECT COUNT(*) AS n FROM orders", "bad": "SELECT COUNT(*) AS n FROM orders"}
    queries = {
        "good": lambda spark, d: _Frame(pd.DataFrame({"n": [n_orders]})),
        "bad": lambda spark, d: _Frame(pd.DataFrame({"n": [n_orders + 1]})),
    }
    wrong = workloads.verify_closed_loop(None, "", queries, oracles, data, ["bad", "good"])
    assert set(wrong) == {"bad"}
    statements = [{"name": "good", "ok": True}, {"name": "bad", "ok": True}]
    for st in statements:
        if st["name"] in wrong:
            st["ok"] = False
    assert run.tally(statements) == (2, 1)


def test_wrong_presto_result_counts_as_failed(data):
    sql = "SELECT COUNT(*) AS n FROM orders"
    n_orders = datagen.rows("orders", SF)
    cols = [{"name": "n", "type": "bigint"}]
    statements = [
        {"ok": True, "rows": [[n_orders]], "columns": cols, "check": ("sql", sql)},
        {"ok": True, "rows": [[n_orders - 1]], "columns": cols, "check": ("sql", sql)},
        {"ok": True, "rows": [], "check": ("empty",)},
        {"ok": True, "rows": [["orders"]], "check": ("tables",)},
        {"ok": False, "rows": [], "check": ("empty",), "error": "raised"},
    ]
    tables = sorted(data)
    wrong = workloads.verify_presto(statements, data, tables, ["root"])
    assert wrong == 2  # the off-by-one count and the short table listing
    assert [st["ok"] for st in statements] == [True, False, True, False, False]
    assert run.tally(statements) == (5, 3)


def test_presto_rows_match_duckdb_typed_by_columns(data):
    sql = "SELECT o_orderkey, o_totalprice, o_orderdate FROM orders WHERE o_orderkey < 3"
    duck = workloads.DuckOracle(data)
    want = duck.con.execute(sql).fetchall()
    duck.close()
    # the server sends timestamps as text and names the columns separately
    rows = [[k, p, str(d)] for k, p, d in reversed(want)]
    cols = [
        {"name": "o_orderkey", "type": "bigint"},
        {"name": "o_totalprice", "type": "double"},
        {"name": "o_orderdate", "type": "timestamp"},
    ]
    statements = [{"ok": True, "rows": rows, "columns": cols, "check": ("sql", sql)}]
    assert workloads.verify_presto(statements, data, sorted(data), ["root"]) == 0


def test_presto_checks_accept_right_metadata(data):
    schema = pq.read_schema(data["region"])
    cols = [[f.name, t, "YES"] for f, t in zip(schema, ["INT", "STRING"])]
    statements = [
        {"ok": True, "rows": [[t] for t in sorted(data)], "check": ("tables",)},
        {"ok": True, "rows": [["root"], ["s0"], ["information_schema"]], "check": ("schemas",)},
        {"ok": True, "rows": cols, "check": ("columns", "region")},
    ]
    assert workloads.verify_presto(statements, data, sorted(data), ["root", "s0"]) == 0


def test_busy_seconds_merges_overlaps():
    assert layers.busy_seconds([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert layers.busy_seconds([(0, 2)], 1, 10) == 1


def test_metric_value_parses_spark_strings():
    assert layers.metric_value("1,234") == 1234
    assert layers.metric_value("total (min, med, max)\n1.5 KiB (0.5 KiB, ...)") == 1536
