"""Driver-contract smoke tests: entry() runs, queries()/oracle_sql() are
consistent, and a fast subset hash-matches DuckDB at sf0.001 (the full
sf0.01 sweep lives in tools/check_oracle.py)."""

import duckdb
import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR

FAST_SUBSET = [
    "q1_pricing_summary",
    "join_left_q13",
    "agg_filter_clause",
    "window_rank_family",
    "int_division",
    "dedup_exact",
    "text_langid",
    "multimodal_image_meta",
    "multimodal_av_meta",
]


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_queries_oracles_consistent():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 50
    # every oracle refers to a registered query
    assert set(oracles) <= set(qs)
    # round 7 graduated the last two rows-only gates (approx_aggregates
    # via deterministic error-bound properties, sample_bernoulli via
    # sampling invariants): EVERY registered query now carries a value
    # oracle — this set must stay empty
    assert set(qs) - set(oracles) == set()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in entrymod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


@pytest.mark.parametrize("name", FAST_SUBSET)
def test_query_matches_oracle(spark, duck, name):
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from check_oracle import compare

    sdf = entrymod.queries()[name](spark, SF_DIR).toPandas()
    odf = duck.execute(entrymod.oracle_sql()[name]).df()
    assert compare(sdf, odf) is None


def test_bench_headline_subset_of_queries():
    import bench

    qs = entrymod.queries()
    missing = [n for n in bench.HEADLINE if n not in qs]
    assert not missing, f"bench names not in queries(): {missing}"


def test_driver_window_covers_unverified_first():
    """The correctness driver checks a bounded prefix of queries(); the
    registry must schedule never-yet-verified names before ones that
    already have a green CORRECTNESS row (round-robin verification)."""
    import __spark_entry__ as e

    verified = e._driver_verified_names()
    names = list(e.queries())
    assert set(names) == set(e._QUERIES)
    seen_verified = False
    for n in names:
        if n in verified:
            seen_verified = True
        else:
            assert not seen_verified, f"unverified {n} scheduled after verified"


def test_verify_first_window_is_exact():
    """_VERIFY_FIRST fits the driver's 50-row window, has no dups, every
    name is a registered query, and (round 6: the ledger-draining round)
    it covers the ENTIRE never-driver-sampled tier — the window spills
    into _REATTEST, which must also be dup-free."""
    import __spark_entry__ as e

    assert len(e._VERIFY_FIRST) <= 50
    assert len(set(e._VERIFY_FIRST)) == len(e._VERIFY_FIRST)
    assert set(e._VERIFY_FIRST) <= set(e._QUERIES)
    assert len(set(e._REATTEST)) == len(e._REATTEST)
    assert set(e._REATTEST) <= set(e._QUERIES)
    unverified = set(e._QUERIES) - e._driver_verified_names()
    assert unverified <= set(e._VERIFY_FIRST), (
        "never-sampled queries missing from the curated window: "
        f"{sorted(unverified - set(e._VERIFY_FIRST))}"
    )


def test_red_rows_reenter_window(monkeypatch, tmp_path):
    """A driver row with hash_match=False must NOT count as verified —
    round 2's events_sessionize red row has to re-enter the window."""
    import json

    import __spark_entry__ as e

    rows = {
        "greenq": {"rows_match": True, "schema_match": True,
                   "hash_match": True, "err": None},
        "redq": {"rows_match": True, "schema_match": True,
                 "hash_match": False, "err": None},
        "rowsonly_known": {"rows_match": None, "schema_match": None,
                           "hash_match": None, "spark_rows": 3,
                           "err": "no_oracle"},
    }
    (tmp_path / "CORRECTNESS_r99.json").write_text(json.dumps(rows))
    # point the scanner at tmp_path instead of the repo root
    monkeypatch.setattr(e, "__file__", str(tmp_path / "__spark_entry__.py"))
    verified = e._driver_verified_names()
    assert "greenq" in verified
    assert "redq" not in verified
    # rows-only counts as done only while the query still has no oracle
    assert "rowsonly_known" in verified


def test_previously_green_reappear_when_window_exceeds_unverified():
    """Once the pending queue drains below the window size, already-green
    names must fill the remaining slots (regression sampling) — i.e. the
    schedule always contains every registered query exactly once."""
    import __spark_entry__ as e

    order = e._scheduled_order()
    assert sorted(order) == sorted(e._QUERIES)
    verified = e._driver_verified_names()
    n_unverified = sum(1 for n in order if n not in verified)
    # simulate a window larger than the unverified count: the prefix beyond
    # the unverified names consists of previously-verified queries, led by
    # the regression core
    window = order[: n_unverified + 10]
    tail = window[n_unverified:]
    assert len(tail) == 10
    assert all(n in verified for n in tail)
