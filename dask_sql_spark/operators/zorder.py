"""Z-order (Morton-curve) clustering for multi-column data skipping.

``COPY TO ... sort_by`` clusters files on ONE column; parquet row-group
min/max skipping on a second column then degrades to nothing. Z-ordering
interleaves the bits of several columns' normalized ranks so rows close
in ANY clustered dimension land close in the file order — the standard
lakehouse technique (Delta/Iceberg `OPTIMIZE ZORDER BY`) re-expressed as
pure Catalyst bit arithmetic, no UDF.

Scale shape: one broadcast min/max aggregate per clustered column (to
normalize into the 2^bits grid), then a ``repartitionByRange`` +
``sortWithinPartitions`` on the interleaved key — a single range shuffle,
the same cost as a global sort on one column.

Determinism: normalization is INTEGER arithmetic (``(x - min) * grid //
span``) so the same rows get the same key on every engine — float
normalization would put boundary values in different buckets across
engines. Integer columns only; bucketize floats/timestamps first.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dask_sql_spark.operators.util import ident


def _interleave(scaled: list[str], bits: int) -> Column:
    # ONE parsed SQL string instead of the old bits×ndim chained
    # Column loop (~8 py4j round trips per bit at plan build, re-paid
    # per bench pass — r13, guide §1.2). Same expression tree: the
    # scaled inputs are already BIGINT (CAST..DIV), so the CAST is the
    # same no-op the old .cast("bigint") was, and the OR chain keeps
    # the (d outer, i inner) association order. Bitwise ops are exact;
    # output is bit-identical.
    ndim = len(scaled)
    key = "CAST(0 AS BIGINT)"
    for d, c in enumerate(scaled):
        for i in range(bits):
            key += (
                f" | shiftleft(CAST(shiftright({c}, {i}) AS BIGINT)"
                f" & CAST(1 AS BIGINT), {i * ndim + d})"
            )
    return F.expr(key)


def with_zorder_key(
    df: DataFrame, cols: list[str], bits: int = 16, key_name: str = "zkey"
) -> DataFrame:
    """Attach the Morton key of the given INTEGER columns as ``key_name``.

    Each column is min/max-normalized onto a ``2^bits`` grid with exact
    integer arithmetic, then bit-interleaved. ``bits * len(cols)`` must
    stay under 63.
    """
    if bits * len(cols) > 62:
        raise ValueError("bits * ndim must be <= 62 for a BIGINT key")
    grid = (1 << bits) - 1
    aggs = []
    for c in cols:
        aggs.append(F.min(c).cast("long").alias(f"__min_{c}"))
        aggs.append(F.max(c).cast("long").alias(f"__max_{c}"))
    bounds = df.agg(*aggs)
    out = df.crossJoin(F.broadcast(bounds))
    # exact integer arithmetic end-to-end: Spark DIV == DuckDB // for
    # non-negative operands; double division would misplace boundary rows
    scaled = [
        f"(((CAST({ident(c)} AS BIGINT) - {ident('__min_' + c)}) * {grid}) "
        f"DIV greatest({ident('__max_' + c)} - {ident('__min_' + c)}, 1))"
        for c in cols
    ]
    out = out.withColumn(key_name, _interleave(scaled, bits))
    return out.drop(*[f"__min_{c}" for c in cols], *[f"__max_{c}" for c in cols])


def zorder_sql_expr(
    cols: list[str], mins: list[str], maxs: list[str], bits: int = 16
) -> str:
    """The exact SQL-text twin of :func:`with_zorder_key`'s key (engine-
    neutral ``>> << & | //`` arithmetic); ``mins``/``maxs`` are SQL
    expressions for the per-column bounds (e.g. CTE columns) — used by
    the DuckDB oracle."""
    grid = (1 << bits) - 1
    terms = []
    ndim = len(cols)
    for d, (c, lo, hi) in enumerate(zip(cols, mins, maxs)):
        sx = f"((({c} - {lo}) * {grid}) // greatest({hi} - {lo}, 1))"
        for i in range(bits):
            terms.append(f"((({sx} >> {i}) & 1) << {i * ndim + d})")
    return " | ".join(terms)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 16,
    partitions: int | None = None,
) -> None:
    """Write ``df`` as parquet clustered on the Z-order curve of ``cols``:
    range-partition by the key (global ordering across files), sort within
    partitions (ordering within row groups), drop the key."""
    keyed = with_zorder_key(df, cols, bits=bits)
    if partitions:
        keyed = keyed.repartitionByRange(partitions, "zkey")
    else:
        keyed = keyed.repartitionByRange("zkey")
    keyed.sortWithinPartitions("zkey").drop("zkey").write.mode(
        "overwrite"
    ).parquet(path)
