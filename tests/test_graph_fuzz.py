"""Round-9 adversarial audit of the graph layer: seeded random-graph
differentials against plain-Python models (union-find for components,
brute-force enumeration for triangles), plus the pinned non-convergence
warning — a path graph longer than ``max_iterations`` previously
returned wrong labels silently."""

from __future__ import annotations

import random

import pandas as pd
import pytest


def _union_find(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        for v in (a, b):
            parent.setdefault(v, v)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical min label per component
    return {v: find(v) for v in parent}


def _rand_edges(rng: random.Random, n_nodes: int, n_edges: int):
    es = [
        (rng.randrange(n_nodes), rng.randrange(n_nodes))
        for _ in range(n_edges)
    ]
    # self-loops and duplicates included on purpose
    es += [(5, 5), (0, 1), (0, 1)]
    return es


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_connected_components_vs_union_find(spark, seed):
    from dask_sql_spark.operators.graph import connected_components

    rng = random.Random(seed)
    es = _rand_edges(rng, n_nodes=40, n_edges=45)
    df = spark.createDataFrame(
        pd.DataFrame(es, columns=["id_a", "id_b"]), "id_a long, id_b long"
    )
    got = {
        r["id"]: r["comp"] for r in connected_components(df).collect()
    }
    want = _union_find(es)
    assert got == want


def test_connected_components_deep_path_converges_or_warns(spark):
    """A 40-node path has diameter 39 > the default 25-iteration cap:
    the call must WARN rather than silently return non-minimal labels;
    with a raised cap it must return the true components."""
    import warnings

    from dask_sql_spark.operators.graph import connected_components

    es = [(i, i + 1) for i in range(39)]
    df = spark.createDataFrame(
        pd.DataFrame(es, columns=["id_a", "id_b"]), "id_a long, id_b long"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = {
            r["id"]: r["comp"] for r in connected_components(df).collect()
        }
        if any(w.category is RuntimeWarning for w in caught):
            # allowed outcome: truncated but announced
            pass
        else:
            assert got == {i: 0 for i in range(40)}
    got = {
        r["id"]: r["comp"]
        for r in connected_components(df, max_iterations=60).collect()
    }
    assert got == {i: 0 for i in range(40)}


def test_connected_components_null_endpoints_ignored(spark):
    """Documented: a NULL-endpoint edge is dropped ENTIRELY — neither
    endpoint surfaces from it (3 and 4 appear only via NULL edges and
    are absent), and NULL is never a vertex. Before the round-9 filter,
    NULL half-participated: it absorbed a neighbor's label through the
    NULL groupBy key without ever propagating back."""
    from dask_sql_spark.operators.graph import connected_components

    df = spark.createDataFrame(
        [(1, 2), (None, 3), (4, None)], "id_a long, id_b long"
    )
    got = {
        r["id"]: r["comp"] for r in connected_components(df).collect()
    }
    assert got == {1: 1, 2: 1}


def test_connected_components_null_filter_with_colliding_colnames(spark):
    """Round-10 advisor fix, pinned: when the caller's dst column is
    itself named "a" (one of the internal aliases), the NULL-endpoint
    filter must still check the ORIGINAL column. Before the fix the
    filter ran after the aliasing select, so F.col("a") resolved to the
    projected alias (= the src column), checking src twice and letting
    a NULL dst through as a vertex."""
    from dask_sql_spark.operators.graph import connected_components

    df = spark.createDataFrame(
        [(1, 2), (5, None)], "x long, a long"
    )
    got = {
        r["id"]: r["comp"]
        for r in connected_components(df, src="x", dst="a").collect()
    }
    assert got == {1: 1, 2: 1}


def _brute_triangles(es: list[tuple[int, int]]):
    """Per-node triangle counts over canonical (a<b) deduped edges."""
    eset = set(es)
    nodes = {v for e in es for v in e}
    tri = {v: 0 for v in nodes}
    sl = sorted(nodes)
    for i, a in enumerate(sl):
        for b in sl[i + 1:]:
            if (a, b) not in eset:
                continue
            for c in sl:
                if c > b and (b, c) in eset and (a, c) in eset:
                    for v in (a, b, c):
                        tri[v] += 1
    deg = {v: 0 for v in nodes}
    for a, b in eset:
        deg[a] += 1
        deg[b] += 1
    return deg, tri


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_triangle_audit_vs_bruteforce(spark, seed):
    from dask_sql_spark.operators.graph import triangle_audit

    rng = random.Random(seed)
    # canonical a<b random edges, dense enough for plenty of triangles
    es = sorted(
        {
            tuple(sorted(rng.sample(range(12), 2)))
            for _ in range(40)
        }
    )
    df = spark.createDataFrame(
        pd.DataFrame(es, columns=["id_a", "id_b"]), "id_a long, id_b long"
    )
    rows = triangle_audit(df).collect()
    deg, tri = _brute_triangles(es)
    assert {r["node"]: r["degree"] for r in rows} == deg
    assert {r["node"]: r["n_triangles"] for r in rows} == tri
    for r in rows:
        d, t = deg[r["node"]], tri[r["node"]]
        want_c = 2.0 * t / (d * (d - 1.0)) if d >= 2 else 0.0
        assert r["clustering"] == pytest.approx(want_c)
        assert r["n_wedges"] == d * (d - 1) // 2


@pytest.mark.parametrize("seed", [0, 1])
def test_pagerank_mass_and_model(spark, seed):
    """Rank mass sums to 1 and matches a numpy power-iteration model to
    1e-9 (the operator rounds each iteration to 12 digits, so the
    comparison is tolerance-based, not bitwise)."""
    import numpy as np

    from dask_sql_spark.operators.graph import pagerank

    rng = random.Random(seed)
    es = [
        (rng.randrange(8), rng.randrange(8)) for _ in range(20)
    ] + [(7, 7)]  # self-loop; node 6 may be dangling by chance
    df = spark.createDataFrame(
        pd.DataFrame(es, columns=["src", "dst"]), "src long, dst long"
    )
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=10).collect()}

    nodes = sorted({v for e in es for v in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    outw = np.zeros(n)
    for a, _ in es:
        outw[idx[a]] += 1.0
    r = np.full(n, 1.0 / n)
    for _ in range(10):
        contrib = np.zeros(n)
        for a, b in es:
            contrib[idx[b]] += r[idx[a]] / outw[idx[a]]
        dangling = r[outw == 0].sum()
        r = np.round(
            (1 - 0.85) / n + 0.85 * (contrib + dangling / n), 12
        )
    assert got.keys() == set(nodes)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-6)
    for v in nodes:
        assert got[v] == pytest.approx(r[idx[v]], abs=1e-9), v


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_path_tail_components_vs_union_find(spark, seed):
    """Seeded random graphs with a 60-node path tail whose high-id end
    is joined to vertex 0, so labels still move after the
    propagation-only rounds and the hook-and-jump rounds run (jumping
    alone leaves the tail one hop per round and warns at the cap);
    checked against the union-find model with long ids and with string
    ids, plus an isolated self-loop vertex."""
    from dask_sql_spark.operators.graph import connected_components

    rng = random.Random(seed + 100)
    es = _rand_edges(rng, n_nodes=40, n_edges=45)
    es += [(1000 + i, 1000 + i + 1) for i in range(59)] + [(0, 1059)]
    es += [(2000, 2000)]
    df = spark.createDataFrame(
        pd.DataFrame(es, columns=["id_a", "id_b"]), "id_a long, id_b long"
    )
    got = {
        r["id"]: r["comp"] for r in connected_components(df).collect()
    }
    assert got == _union_find(es)

    # zero-padded so string order is numeric order; "v" keeps them strings
    ses = [(f"v{a:04d}", f"v{b:04d}") for a, b in es]
    sdf = spark.createDataFrame(ses, "id_a string, id_b string")
    got = {
        r["id"]: r["comp"] for r in connected_components(sdf).collect()
    }
    assert got == _union_find(ses)
    assert got["v2000"] == "v2000"


def test_deep_path_auto_switches_and_converges(spark):
    """A 120-node path (diameter 119) under the DEFAULT cap: propagation
    alone would blow the 25-iteration budget and warn; the hook-and-jump
    rounds must return the true components with no warning."""
    import warnings

    from dask_sql_spark.operators.graph import connected_components

    es = [(i, i + 1) for i in range(119)]
    df = spark.createDataFrame(
        pd.DataFrame(es, columns=["id_a", "id_b"]), "id_a long, id_b long"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = {
            r["id"]: r["comp"] for r in connected_components(df).collect()
        }
    assert not any(w.category is RuntimeWarning for w in caught)
    assert got == {i: 0 for i in range(120)}


def test_deep_path_converges_within_13_rounds(spark):
    """A 120-node path (diameter 119): propagation alone needs 119
    rounds; 8 propagation rounds then hook-and-jump rounds (label
    displacement 8 → 18 → 38 → 78 → all 0, one round to confirm) finish
    it in 13 with no warning."""
    import warnings

    from dask_sql_spark.operators.graph import connected_components

    es = [(i, i + 1) for i in range(119)]
    df = spark.createDataFrame(
        pd.DataFrame(es, columns=["id_a", "id_b"]), "id_a long, id_b long"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = {
            r["id"]: r["comp"]
            for r in connected_components(df, max_iterations=13).collect()
        }
    assert not any(w.category is RuntimeWarning for w in caught)
    assert got == {i: 0 for i in range(120)}


def test_shuffled_path_converges_under_default_cap(spark):
    """A 1000-node path whose ids are shuffled along it: label chains do
    not lead to the minimum, so jumping alone moves it about one hop per
    round (hundreds of rounds); hooking each label's owner to the min
    its carriers saw converges inside the default 25-round cap."""
    import warnings

    from dask_sql_spark.operators.graph import connected_components

    p = list(range(1000))
    random.Random(7).shuffle(p)
    es = [(p[i], p[i + 1]) for i in range(999)]
    df = spark.createDataFrame(
        pd.DataFrame(es, columns=["id_a", "id_b"]), "id_a long, id_b long"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = {
            r["id"]: r["comp"] for r in connected_components(df).collect()
        }
    assert not any(w.category is RuntimeWarning for w in caught)
    assert got == {i: 0 for i in range(1000)}
