"""Output checks: DuckDB over the benchmark's parquet files, compared by the
repository's oracle value hash.

Both sides are reduced with ``tools/check_oracle.py:value_hash``, the hash
the repository's correctness gate uses: columns sorted by name, rows sorted,
each cell in a canonical form. An int column and a float column holding the
same numbers hash differently there, so statements whose sums DuckDB would
widen to HUGEINT cast them back to BIGINT in the SQL both engines run.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from tools.check_oracle import value_hash

# Presto type names whose values the server sends as text
_TEMPORAL = {"timestamp", "date"}


def presto_frame(columns: list[dict], rows: list[list]) -> pd.DataFrame:
    """A Presto-protocol result as a frame, named and typed by the payload's
    ``columns`` field: temporal values arrive as text and are parsed back."""
    df = pd.DataFrame(rows, columns=[c["name"] for c in columns])
    for c in columns:
        if c["type"] in _TEMPORAL:
            df[c["name"]] = pd.to_datetime(df[c["name"]])
    return df


class DuckOracle:
    """DuckDB over the same parquet files the benchmark hands to Spark."""

    def __init__(self, paths: dict[str, str], threads: int = 2):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {int(threads)}")
        self.con.execute("SET TimeZone = 'UTC'")
        for name, path in paths.items():
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        self._cache: dict[str, str] = {}

    def value_hash(self, sql: str) -> str:
        if sql not in self._cache:
            self._cache[sql] = value_hash(self.con.execute(sql).df())
        return self._cache[sql]

    def close(self) -> None:
        self.con.close()
