"""Seeded generator for the benchmark's input tables.

Writes the ten tables that ``__spark_entry__.queries()`` reads (a TPC-H-style
star schema plus ``events``, ``documents`` and ``embeddings``) as one parquet
file each. The schemas and value domains follow the repository's test data:
the queries filter on the same segment, brand, nation and date values, so
every statement returns a non-trivial result. The same seed and scale factor
always give byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# rows per unit of scale factor (sf0.01 -> 60k lineitem rows)
_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 50_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "de", "fr", "es"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMB_DIM = 64

_US_PER_DAY = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def rows(table: str, sf: float) -> int:
    return max(5, int(round(_ROWS[table] * sf)))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _region(rng, sf):
    return pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })


def _nation(rng, sf):
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
    })


def _customer(rng, sf):
    n = rows("customer", sf)
    return pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, SEGMENTS, n),
    })


def _supplier(rng, sf):
    n = rows("supplier", sf)
    return pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })


def _part(rng, sf):
    n = rows("part", sf)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "p_partkey": keys,
        "p_name": _pick(rng, names, n),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": _pick(rng, PART_TYPES, n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })


def _orders(rng, sf):
    n = rows("orders", sf)
    n_cust = rows("customer", sf)
    # like TPC-H, every third customer places no orders (the left join of
    # join_left_q13 then has a zero-count group)
    active = np.arange(n_cust, dtype=np.int64)
    active = active[active % 3 != 0]
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": active[rng.integers(0, len(active), n)],
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, n) * _US_PER_DAY),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    })


def _lineitem(rng, sf):
    n = rows("lineitem", sf)
    return pa.table({
        "l_orderkey": rng.integers(0, rows("orders", sf), n).astype(np.int64),
        "l_partkey": rng.integers(0, rows("part", sf), n).astype(np.int64),
        "l_suppkey": rng.integers(0, rows("supplier", sf), n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2499, n) * _US_PER_DAY),
    })


def _events(rng, sf):
    n = rows("events", sf)
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, n)) + _EPOCH_2024
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, max(10, rows("customer", sf) // 10), n).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": _money(rng, 0.01, 500.0, n),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(rng, sf):
    n = rows("documents", sf)
    words = np.asarray(WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            # near duplicate of an earlier document: what the dedup
            # operators are there to find
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 10 and r < 0.06:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(8, 101))]))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n, p=[0.41, 0.15, 0.14, 0.15, 0.15]),
        "source": [f"src{k % 20}" for k in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, sf):
    n = rows("embeddings", sf)
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = 0.15 * centers[labels] + rng.normal(size=(n, EMB_DIM)) / np.sqrt(EMB_DIM)
    # 3% are perturbed copies of an earlier vector (cosine ~0.95), the
    # pairs the embedding dedup operator reports
    for i in np.flatnonzero(rng.random(n) < 0.03):
        if i > 0:
            vecs[i] = vecs[rng.integers(0, i)] + 0.3 * rng.normal(size=EMB_DIM) / np.sqrt(EMB_DIM)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    offsets = pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, pa.array(vecs.ravel())),
        "label": labels.astype(np.int32),
    })


_BUILDERS = {
    "region": _region,
    "nation": _nation,
    "customer": _customer,
    "supplier": _supplier,
    "part": _part,
    "orders": _orders,
    "lineitem": _lineitem,
    "events": _events,
    "documents": _documents,
    "embeddings": _embeddings,
}


def generate(out_dir: str, seed: int, sf: float) -> dict[str, str]:
    """Write every table under ``out_dir``; return {table: parquet path}."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for i, name in enumerate(TABLES):
        rng = np.random.default_rng([seed, i])
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(_BUILDERS[name](rng, sf), path)
        paths[name] = path
    return paths
