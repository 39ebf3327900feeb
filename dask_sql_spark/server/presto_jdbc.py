"""JDBC compatibility shim: answers the ``system.jdbc.*`` metadata queries
a Presto JDBC driver issues on connect (reference server/presto_jdbc.py:1-149
creates a `system` schema with tables/columns/schemas catalogs).

The shim EXECUTES the client's actual SQL: each ``system.jdbc.<what>``
reference (outside string literals) is materialized as a temp view and the
query runs against those views, so the WHERE / projection / ORDER BY a real
JDBC driver sends (``... WHERE table_schem LIKE ? ORDER BY table_name``)
actually applies — the r9 wire audit found the previous form replayed the
whole catalog regardless of the query, and hijacked ordinary queries that
merely mentioned ``system.jdbc`` inside a string value.
"""

from __future__ import annotations

import re
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame

from dask_sql_spark.dialect import mask_literals

if TYPE_CHECKING:
    from dask_sql_spark.context import Context

_JDBC_RE = re.compile(r"\bsystem\.jdbc\.(\w+)\b", re.IGNORECASE)


def _catalog_frame(context: "Context", what: str) -> DataFrame | None:
    """The metadata DataFrame for one system.jdbc table, or None."""
    from dask_sql_spark.context import local_frame

    spark = context.spark
    if what == "schemas":
        rows = [(s, "dask_sql_spark") for s in sorted(context.schemas)]
        return local_frame(spark, rows, "TABLE_SCHEM string, TABLE_CATALOG string")
    if what == "tables":
        rows = [
            ("dask_sql_spark", schema_name, t, "TABLE", "")
            for schema_name, schema in sorted(context.schemas.items())
            for t in sorted(schema.tables)
        ]
        return local_frame(
            spark,
            rows,
            "TABLE_CAT string, TABLE_SCHEM string, TABLE_NAME string, "
            "TABLE_TYPE string, REMARKS string",
        )
    if what == "columns":
        from dask_sql_spark.mappings import column_rows

        rows = [
            ("dask_sql_spark", schema_name, t, *column, i)
            for schema_name, schema in sorted(context.schemas.items())
            for t in sorted(schema.tables)
            for i, column in enumerate(column_rows(schema.tables[t].df.schema), 1)
        ]
        return local_frame(
            spark,
            rows,
            "TABLE_CAT string, TABLE_SCHEM string, TABLE_NAME string, "
            "COLUMN_NAME string, TYPE_NAME string, IS_NULLABLE string, "
            "ORDINAL_POSITION int",
        )
    if what == "catalogs":
        return local_frame(spark, [("dask_sql_spark",)], "TABLE_CAT string")
    if what in ("types", "table_types"):
        return local_frame(spark, [("TABLE",)], "TABLE_TYPE string")
    return None


def maybe_jdbc_query(context: "Context", sql: str) -> DataFrame | None:
    """Execute ``sql`` with its system.jdbc references resolved, else None.

    A ``system.jdbc.X`` occurrence inside a string literal is data, not a
    table reference — such queries pass through untouched (return None).
    """
    matches = list(_JDBC_RE.finditer(mask_literals(sql)))
    if not matches:
        return None
    spark = context.spark
    views: dict[str, str] = {}
    for m in matches:
        what = m.group(1).lower()
        if what in views:
            continue
        df = _catalog_frame(context, what)
        if df is None:
            # unknown system.jdbc table: let the ordinary SQL path
            # produce its table-not-found error
            return None
        view = f"__system_jdbc_{what}__"
        df.createOrReplaceTempView(view)
        views[what] = view
    out: list[str] = []
    last = 0
    for m in matches:
        out.append(sql[last : m.start()])
        out.append(views[m.group(1).lower()])
        last = m.end()
    out.append(sql[last:])
    # the metadata frames are tiny local relations; the client's real
    # filter/projection/order now runs against them verbatim
    return spark.sql("".join(out))
