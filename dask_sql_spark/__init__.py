"""dask_sql_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of dask-contrib/dask-sql.

The reference (see /root/reference, SURVEY.md) is a two-tier engine: a Rust
DataFusion planner plus a Python executor emitting Dask DataFrame operations.
Here the entire relational stack is delegated to Spark SQL / Catalyst; this
package supplies the capability shim around it:

- :class:`Context` — dask-sql-compatible API surface (table registry, UDF
  registry, ``sql()``, custom DDL/ML statements) on top of ``SparkSession``.
- ``operators/`` — operators beyond stock Spark SQL (dedup, similarity
  search, text analysis, multimodal plumbing), all DataFrame-first.
- ``sources/`` — location/format-dispatched readers (parity with the
  reference's input plugin chain, dask_sql/input_utils/location.py).
- ``functions/`` — dialect-compat scalar functions.
- ``streaming/`` — Structured Streaming surface (additive; the reference
  has no streaming, SURVEY.md §2.10).
"""

__version__ = "0.1.0"

__all__ = [
    "Context",
    "Aggregation",
    "Statistics",
    "cmd_loop",
    "run_server",
    "__version__",
]

# name -> defining module. Imported on first access (PEP 562), so `import
# dask_sql_spark` stays light: the Python worker daemon (``daemon``) runs
# inside this package and must not load pandas or the Context with it. The
# reference exports cmd_loop and run_server at package level too
# (dask_sql/__init__.py:10-13).
_LAZY = {
    "Context": "dask_sql_spark.context",
    "Aggregation": "dask_sql_spark.datacontainer",
    "Statistics": "dask_sql_spark.datacontainer",
    "cmd_loop": "dask_sql_spark.cmd",
    "run_server": "dask_sql_spark.server.app",
}


def __getattr__(name: str):
    if name not in _LAZY:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    import importlib

    return getattr(importlib.import_module(_LAZY[name]), name)
