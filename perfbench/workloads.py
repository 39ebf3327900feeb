"""The workloads: statement lists, generators, closed-loop clients and
their output checks.

Every workload is a closed loop: a client sends its next statement only after
the previous one has completed. The program only ever sees the generated SQL
text or the public calls of ``__spark_entry__.queries()``.
"""

from __future__ import annotations

import json
import random
import threading
import time
import urllib.request
from concurrent.futures import ThreadPoolExecutor

from oracle import DuckOracle, presto_frame
from tools.check_oracle import value_hash

# 16 relational statements: 15 SQL texts through Context.sql, plus the
# salted distinct count, a DataFrame operator over the same tables
SQL_ANALYTICS = [
    "q1_pricing_summary",
    "q2_min_cost_supplier",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q9_product_profit",
    "q10_returned_items",
    "q18_large_orders",
    "q19_disjunctive",
    "q21_waiting_orders",
    "join_left_q13",
    "agg_stats",
    "window_running_sum",
    "window_rownum_top3",
    "agg_salted_distinct",
]

# run once during set-up: scans lineitem, returns one row
WARMUP = "q6_forecast_revenue"


# ------------------------------------------------------------------ #
# sql_analytics: closed-loop clients, shuffled passes                #
# ------------------------------------------------------------------ #
def shuffled_passes(names, seed):
    """Endless passes, each a seeded shuffle of ``names``."""
    rng = random.Random(seed)
    while True:
        order = list(names)
        rng.shuffle(order)
        yield order


def dealer(batches, count: int | None = None, seconds: float | None = None):
    """A thread-safe ``deal()`` over endless ``batches`` (passes or decks):
    the items of ``count`` whole batches, so a run measures the same mix
    whatever the seed, or items until ``seconds`` have gone (at least one).
    ``deal()`` returns None when the run is over."""
    pending: list = []
    lock = threading.Lock()
    deadline = None if seconds is None else time.perf_counter() + seconds
    opened = 0

    def deal():
        nonlocal opened
        with lock:
            if deadline is not None and opened and time.perf_counter() >= deadline:
                return None
            if not pending:
                if count is not None and opened >= count:
                    return None
                pending.extend(next(batches))
                opened += 1
            return pending.pop(0)

    return deal


def run_clients(clients: int, client) -> float:
    """Run ``client(c)`` on ``clients`` threads; return the elapsed seconds."""
    start = time.perf_counter()
    threads = [threading.Thread(target=client, args=(c,)) for c in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return time.perf_counter() - start


def closed_loop(
    spark, data_dir, queries, names, seed, clients, passes=None, seconds=None, tracer=None,
    rest=None,
):
    """``clients`` closed-loop clients run ``names`` in seeded shuffled
    passes, dealt from one dealer: ``passes`` whole passes, or statements
    for ``seconds``.

    A statement is the build call ``queries[name](spark, data_dir)`` plus
    its execution to the noop sink. Returns (statements, elapsed seconds,
    storage samples); the last only when traced.
    """
    sc = spark.sparkContext
    deal = dealer(shuffled_passes(names, seed), passes, seconds)
    results: list[list[dict]] = [[] for _ in range(clients)]
    cache: list[int] = []

    def client(c: int) -> None:
        while (name := deal()) is not None:
            st = {"name": name, "ok": False}
            if tracer:
                i = f"{c}.{len(results[c])}"
                st["build_group"], st["exec_group"] = f"b{i}", f"x{i}"
                sc.setJobGroup(st["build_group"], name)
                n0 = tracer.py4j_calls()
            df = None
            st["wall_start"] = time.time()
            t0 = time.perf_counter()
            try:
                df = queries[name](spark, data_dir)
                t1 = time.perf_counter()
                st["build_ms"] = (t1 - t0) * 1e3
                if tracer:
                    st["build_py4j"] = tracer.py4j_calls() - n0
                    sc.setJobGroup(st["exec_group"], name)
                t1b = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                st["latency_s"] = (t1 - t0) + (time.perf_counter() - t1b)
                st["ok"] = True
            except Exception as e:  # counted in error_rate, the loop goes on
                st["latency_s"] = time.perf_counter() - t0
                st["error"] = f"{type(e).__name__}: {e}"[:500]
            st["wall_end"] = time.time()
            if tracer:
                sc.setLocalProperty("spark.jobGroup.id", None)
                if df is not None:
                    cache.append(rest.storage_bytes())
            results[c].append(st)

    elapsed = run_clients(clients, client)
    return [st for r in results for st in r], elapsed, cache


def verify_closed_loop(spark, data_dir, queries, oracles, paths, names, threads=1) -> dict[str, str]:
    """Run each statement of ``names`` once, collected, on ``threads``
    threads, and compare its value hash with the DuckDB oracle's. Returns
    {name: problem} for mismatches. Run before the measured phase, this
    pass also warms the JVM: the first run of a statement compiles its
    generated code."""
    want: dict[str, str] = {}

    def run_oracles():
        duck = DuckOracle(paths)
        try:
            for name in names:
                want[name] = duck.value_hash(oracles[name])
        finally:
            duck.close()

    # DuckDB works beside Spark here; neither is being timed
    worker = threading.Thread(target=run_oracles)
    worker.start()
    got: dict[str, str] = {}
    wrong: dict[str, str] = {}

    def check(name: str) -> None:
        try:
            got[name] = value_hash(queries[name](spark, data_dir).toPandas())
        except Exception as e:
            wrong[name] = f"check run failed: {type(e).__name__}: {e}"[:300]

    with ThreadPoolExecutor(max_workers=threads) as pool:
        list(pool.map(check, names))
    worker.join()
    for name in names:
        if name not in wrong and got[name] != want.get(name):
            wrong[name] = f"value hash {got[name][:12]} != oracle {str(want.get(name))[:12]}"
    return wrong


# ------------------------------------------------------------------ #
# presto_interactive: closed-loop HTTP clients                       #
# ------------------------------------------------------------------ #
_POLL_WAIT_S = 0.02
_LINE_COLS = "l_orderkey, l_partkey, l_quantity, l_extendedprice"
# money summed as integer cents; the outer cast keeps DuckDB's sum BIGINT
# (it widens to HUGEINT), so both engines return the same column type
_CENTS = "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)"
# parquet column types and the SQL type names SHOW COLUMNS may give them
_TYPE_NAMES = {
    "int64": {"BIGINT"},
    "int32": {"INT", "INTEGER"},
    "double": {"DOUBLE"},
    "string": {"STRING", "VARCHAR"},
    "timestamp[us]": {"TIMESTAMP", "TIMESTAMP_NTZ"},
}
FLAT_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]


# a column UDF the presto workload registers: pandas in, pandas out, run
# by Spark's Python workers over Arrow batches
UDF_NAME = "price_band"
UDF_SQL = "CAST(FLOOR(o_totalprice / 50000) AS BIGINT)"


def register_udf(ctx) -> None:
    import numpy as np

    def price_band(x):
        return (x // 50000).astype("int64")

    ctx.register_function(price_band, UDF_NAME, [("x", np.float64)], np.int64)


def _day(days_since_1995: int) -> str:
    t = time.gmtime(788918400 + days_since_1995 * 86400)  # 1995-01-01 UTC
    return time.strftime("%Y-%m-%d 00:00:00", t)


# one deck of the interactive mix: one unit of each statement kind, point
# lookups once per table they look up and range aggregates once per table
# they aggregate; 12 statements (a write unit is five).
# No trace of interactive traffic gives shares, so each kind weighs the same.
# The clients share one dealer of seeded shuffled decks and a run sends whole
# decks, so every run sends the same shares whatever the seed.
DECK = (
    "order_point", "customer_point", "line_range_agg", "order_range_agg", "scan", "meta", "udf",
    "write",
)
WRITE_SCHEMA = "w"


def presto_decks(seed, n_orders: int):
    """Endless decks, each a seeded shuffle of ``DECK`` as statement units: a
    single statement, or a write cycle of five. Each statement carries the
    check its output must pass: ("sql", oracle SQL), ("tables",),
    ("schemas",), ("columns", table) or ("empty",)."""
    rng = random.Random(seed)
    cycle = 0
    while True:
        kinds = list(DECK)
        rng.shuffle(kinds)
        deck = []
        for kind in kinds:
            deck.append(presto_unit(rng, kind, cycle, n_orders))
            cycle += 1
        yield deck


def presto_unit(rng: random.Random, kind: str, cycle: int, n_orders: int) -> list[dict]:
    if kind == "order_point":
        k = rng.randrange(n_orders)
        sql = (
            "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
            f"o_orderpriority FROM orders WHERE o_orderkey = {k}"
        )
        return [{"kind": "point", "sql": sql, "check": ("sql", sql)}]
    if kind == "customer_point":
        k = rng.randrange(n_orders // 10)
        sql = (
            "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
            f"FROM customer WHERE c_custkey = {k}"
        )
        return [{"kind": "point", "sql": sql, "check": ("sql", sql)}]
    if kind == "order_range_agg":
        d = rng.randrange(2400)
        sql = (
            "SELECT o_orderstatus, COUNT(*) AS n, "
            "CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents FROM orders "
            f"WHERE o_orderdate >= TIMESTAMP '{_day(d)}' "
            f"AND o_orderdate < TIMESTAMP '{_day(d + rng.randint(7, 60))}' "
            "GROUP BY o_orderstatus"
        )
        return [{"kind": "range_agg", "sql": sql, "check": ("sql", sql)}]
    if kind == "line_range_agg":
        d = rng.randrange(2400)
        sql = (
            "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
            f"{_CENTS} AS cents FROM lineitem "
            f"WHERE l_shipdate >= TIMESTAMP '{_day(d)}' "
            f"AND l_shipdate < TIMESTAMP '{_day(d + rng.randint(7, 60))}' "
            "GROUP BY l_returnflag, l_linestatus"
        )
        return [{"kind": "range_agg", "sql": sql, "check": ("sql", sql)}]
    if kind == "scan":
        k = rng.randrange(n_orders - 3000)
        sql = (
            "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
            f"WHERE o_orderkey >= {k} AND o_orderkey < {k + 3000} ORDER BY o_orderkey"
        )
        return [{"kind": "scan", "sql": sql, "check": ("sql", sql)}]
    if kind == "udf":
        k = rng.randrange(n_orders - 2000)
        where = f"FROM orders WHERE o_orderkey >= {k} AND o_orderkey < {k + 2000}"
        sql = f"SELECT band, COUNT(*) AS n FROM (SELECT {UDF_NAME}(o_totalprice) AS band {where}) t GROUP BY band"
        oracle = f"SELECT {UDF_SQL} AS band, COUNT(*) AS n {where} GROUP BY 1"
        return [{"kind": "udf", "sql": sql, "check": ("sql", oracle)}]
    if kind == "meta":
        m = rng.random()
        if m < 1 / 3:
            return [{"kind": "meta", "sql": "SHOW TABLES", "check": ("tables",)}]
        if m < 2 / 3:
            return [{"kind": "meta", "sql": "SHOW SCHEMAS", "check": ("schemas",)}]
        t = rng.choice(FLAT_TABLES)
        return [{"kind": "meta", "sql": f"SHOW COLUMNS FROM {t}", "check": ("columns", t)}]
    # written tables live in their own schema, so SHOW TABLES never sees them
    name = f"{WRITE_SCHEMA}.t{cycle}"
    a = rng.randrange(n_orders - 200)
    b = rng.randrange(n_orders - 50)
    first = f"SELECT {_LINE_COLS} FROM lineitem WHERE l_orderkey >= {a} AND l_orderkey < {a + 200}"
    more = f"SELECT {_LINE_COLS} FROM lineitem WHERE l_orderkey >= {b} AND l_orderkey < {b + 50}"
    agg = f"SELECT COUNT(*) AS n, {_CENTS} AS cents, MIN(l_orderkey) AS lo, MAX(l_orderkey) AS hi FROM "
    return [
        # CTAS caches lazily: the first read fills the cache
        {"kind": "ctas", "sql": f"CREATE TABLE {name} AS {first}", "check": ("empty",)},
        {"kind": "ctas_read", "sql": agg + name, "check": ("sql", agg + f"({first}) AS t")},
        {"kind": "insert", "sql": f"INSERT INTO {name} {more}", "check": ("empty",)},
        {
            "kind": "insert_read",
            "sql": agg + name,
            "check": ("sql", agg + f"({first} UNION ALL {more}) AS t"),
        },
        {"kind": "drop", "sql": f"DROP TABLE {name}", "check": ("empty",)},
    ]


def _fetch(url: str, body: bytes | None = None) -> bytes:
    req = urllib.request.Request(url, data=body, method="POST" if body is not None else "GET")
    with urllib.request.urlopen(req, timeout=120) as resp:
        return resp.read()


def presto_statement(base: str, sql: str) -> dict:
    """Submit one statement and follow nextUri until the result is complete."""
    st: dict = {"sql": sql, "ok": False, "polls": 0, "rows": []}
    st["wall_start"] = time.time()
    t0 = time.perf_counter()
    try:
        body = _fetch(base + "/v1/statement", sql.encode())
        st["submit_ms"] = (time.perf_counter() - t0) * 1e3
        nbytes = len(body)
        payload = json.loads(body)
        st["qid"] = payload.get("id")
        while True:
            if "error" in payload:
                st["error"] = str(payload["error"].get("message"))[:500]
                break
            if "data" in payload:
                st["rows"].extend(payload["data"])
                st["columns"] = payload["columns"]
                st.setdefault("first_page_ms", (time.perf_counter() - t0) * 1e3)
            nxt = payload.get("nextUri")
            if not nxt:
                st["ok"] = payload.get("stats", {}).get("state") == "FINISHED"
                break
            if "data" not in payload:
                time.sleep(_POLL_WAIT_S)
            body = _fetch(nxt)
            st["polls"] += 1
            nbytes += len(body)
            payload = json.loads(body)
        st["response_bytes"] = nbytes
    except Exception as e:  # counted in error_rate, the client goes on
        st["error"] = f"{type(e).__name__}: {e}"[:500]
    st["latency_s"] = time.perf_counter() - t0
    st["wall_end"] = time.time()
    st.setdefault("first_page_ms", st["latency_s"] * 1e3)
    st["exec_group"] = st.get("qid")
    return st


def presto_loop(base, decks, clients, count=None, seconds=None, rest=None):
    """``clients`` closed-loop HTTP clients taking units from one dealer of
    ``decks``: ``count`` whole decks, or units for ``seconds``. A unit is
    dealt whole, so every write cycle ends with its DROP. Returns
    (statements, elapsed, storage samples)."""
    deal = dealer(decks, count, seconds)
    results: list[list[dict]] = [[] for _ in range(clients)]
    cache: list[int] = []

    def client(c: int) -> None:
        while (unit := deal()) is not None:
            for spec in unit:
                st = presto_statement(base, spec["sql"])
                st["kind"], st["check"] = spec["kind"], spec["check"]
                results[c].append(st)
                if rest is not None and spec["kind"] == "ctas_read":
                    cache.append(rest.storage_bytes())

    elapsed = run_clients(clients, client)
    return [st for r in results for st in r], elapsed, cache


def verify_presto(statements, paths, tables, schemas) -> int:
    """Mark each statement whose output is wrong; return how many were."""
    import pyarrow.parquet as pq

    duck = DuckOracle(paths)
    wrong = 0
    try:
        for st in statements:
            if not st["ok"]:
                continue
            check = st["check"]
            rows = [tuple(r) for r in st["rows"]]
            if check[0] == "sql":
                good = "columns" in st and (
                    value_hash(presto_frame(st["columns"], st["rows"]))
                    == duck.value_hash(check[1])
                )
            elif check[0] == "empty":
                good = rows == []
            elif check[0] == "tables":
                good = rows == [(t,) for t in sorted(tables)]
            elif check[0] == "schemas":
                good = rows == [(s,) for s in sorted(schemas)] + [("information_schema",)]
            else:
                schema = pq.read_schema(paths[check[1]])
                good = len(rows) == len(schema) and all(
                    r[0] == f.name and r[1] in _TYPE_NAMES[str(f.type)] and r[2] == "YES"
                    for r, f in zip(rows, schema)
                )
            if not good:
                st["ok"] = False
                st["error"] = "wrong result"
                wrong += 1
    finally:
        duck.close()
    return wrong
