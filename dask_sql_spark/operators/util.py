"""Shared operator utilities, including the one SQL-text builder.

Operators that ship an expression as one parsed SQL string (one py4j
call instead of one per Column node) build every identifier, literal
and vector fold through the helpers below, so quoting, escaping and
the double-literal spelling are decided in one place.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame


def ident(name: str) -> str:
    """Backtick-quoted identifier for ONE top-level column name
    (embedded backticks doubled). Dotted names are rejected: ``a.b``
    means a struct field to ``F.col`` but one literal name here, so the
    caller aliases the field first. ``${`` is rejected too — the SQL
    parser's variable substitution would rewrite it before quoting
    applies."""
    if "." in name or "${" in name:
        raise ValueError(
            f"column name {name!r} must be a top-level name without '.' "
            "or '${' — alias the field to a plain name first"
        )
    return "`" + name.replace("`", "``") + "`"


def dbl(x: float) -> str:
    """DOUBLE literal for ``x``: ``repr`` is the shortest round-trip
    form and the ``D`` suffix types it DOUBLE, so the parsed value is
    the exact IEEE double (what ``F.lit(float)`` ships). NaN/inf have no
    literal spelling and raise."""
    v = float(x)
    if not math.isfinite(v):
        raise ValueError(f"non-finite double {v!r} has no SQL literal")
    return repr(v) + "D"


def str_lit(s: str) -> str:
    """Single-quoted STRING literal for arbitrary text: ``'`` doubled,
    backslashes doubled (the parser unescapes them), and ``${`` written
    with an escaped brace so variable substitution cannot rewrite it."""
    return "'" + (
        s.replace("\\", "\\\\").replace("'", "''").replace("${", "$\\{")
    ) + "'"


def let(expr: str, var: str, body: str) -> str:
    """Bind ``expr`` once as lambda variable ``var`` inside ``body``.
    Interpreted higher-order functions have no common-subexpression
    elimination, so a value spliced twice is computed twice; the
    single-element array evaluates it exactly once."""
    return f"element_at(transform(array({expr}), {var} -> {body}), 1)"


def dot_sql(a: str, b: str) -> str:
    """Sequential ``acc + x*y`` dot product of two array<double> SQL
    expressions (the fold DuckDB's list_dot_product replays)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
        "(acc, v) -> acc + v)"
    )


def norm_sql(a: str) -> str:
    """Euclidean norm of an array<double> SQL expression."""
    return f"sqrt(aggregate({a}, 0.0D, (acc, v) -> acc + v * v))"


def cosine_sql(a: str, b: str) -> str:
    """Cosine of two array<double> SQL expressions; NULL at zero norm
    (``try_divide``) instead of an ANSI divide-by-zero error."""
    return f"try_divide({dot_sql(a, b)}, {norm_sql(a)} * {norm_sql(b)})"


# analyzed-plan semanticHash -> partition count. df.rdd.getNumPartitions()
# forces a full physical planning pass (~50-60 ms per call even warm, r12
# measurement) that the subsequent action simply repeats; the count is a
# PARALLELISM HEURISTIC, not a correctness input, so memoizing it on the
# analyzed plan is safe — a stale entry merely repartitions (or skips
# repartitioning) a frame the heuristic would have treated identically.
# Bounded (r13): evict oldest entries past _PARTS_CACHE_MAX so a
# long-lived driver session cannot grow it without limit, and a stale
# hit (same semanticHash, rewritten files) ages out instead of living
# forever.  dicts preserve insertion order, so popping the first key is
# FIFO eviction — adequate for a heuristic cache.
_PARTS_CACHE: dict[int, int] = {}
_PARTS_CACHE_MAX = 4096


def ensure_parallelism(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Round-robin repartition when the input has fewer partitions than the
    cluster can use.

    Data-amplifying operators (shingle/token/bit explodes multiply rows
    10-100×) inherit the scan's partitioning; a compact input (one parquet
    row group → one task) would serialize the whole pipeline. The shuffle
    cost of repartitioning the *pre-explosion* rows is tiny compared to the
    exploded work it parallelizes. No-op when the input is already well
    partitioned (the 100 TB case, where scans carry hundreds of tasks).
    """
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    try:
        key = df._jdf.queryExecution().analyzed().semanticHash()
    except Exception:  # Spark Connect or API drift: probe uncached
        key = None
    if key is not None and key in _PARTS_CACHE:
        n = _PARTS_CACHE[key]
    else:
        n = df.rdd.getNumPartitions()
        if key is not None:
            while len(_PARTS_CACHE) >= _PARTS_CACHE_MAX:
                _PARTS_CACHE.pop(next(iter(_PARTS_CACHE)))
            _PARTS_CACHE[key] = n
    if n >= target:
        return df
    return df.repartition(target)
