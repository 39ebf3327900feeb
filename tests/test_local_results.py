"""Driver-held statement results are JVM local relations.

``context.local_frame`` builds every DDL, SHOW and metadata answer. It must
give the same schema and rows as ``createDataFrame(rows, ddl)``, the form it
replaced, while ``isLocal()`` is true so reading it starts no Spark job.
"""

import pytest
from pyspark.sql import types as T

# the schemas of the converted sites, with rows that exercise them
_VACUUM = "location STRING, action STRING, deleted BOOLEAN"
_JDBC_TABLES = (
    "TABLE_CAT string, TABLE_SCHEM string, TABLE_NAME string, "
    "TABLE_TYPE string, REMARKS string"
)
_JDBC_COLUMNS = (
    "TABLE_CAT string, TABLE_SCHEM string, TABLE_NAME string, "
    "COLUMN_NAME string, TYPE_NAME string, IS_NULLABLE string, "
    "ORDINAL_POSITION int"
)
_COMPACTION = (
    "path STRING, n_files INT, total_bytes BIGINT, n_small_files INT, "
    "target_n_files INT, needs_compaction BOOLEAN"
)
CASES = [
    (_VACUUM, [(None, "nothing_to_vacuum", False)]),
    (_VACUUM, [("/a", "deleted", True), ("/b", "missing", False), ("/c", "skipped_live", False)]),
    ("Schema: string", [("root",), ("information_schema",)]),
    ("Schema: string", []),
    ("Table: string", [("a",), ("b",)]),
    ("Table: string", []),
    ("Column: string, Type: string, Nullable: string", [("a", "BIGINT", "YES"), ("b", "DOUBLE", "NO")]),
    ("Model: string", []),
    ("Param: string, Value: string", [("shift", "0.0"), ("training_columns", "['a']")]),
    ("TABLE_SCHEM string, TABLE_CATALOG string", [("root", "dask_sql_spark")]),
    (_JDBC_TABLES, [("dask_sql_spark", "root", "t", "TABLE", "")]),
    (_JDBC_COLUMNS, [("dask_sql_spark", "root", "t", "a", "BIGINT", "YES", 1)]),
    (_JDBC_COLUMNS, []),
    ("TABLE_CAT string", [("dask_sql_spark",)]),
    ("TABLE_TYPE string", [("TABLE",)]),
    (_COMPACTION, [("/p", 40, 2**40 + 7, 39, 1, True)]),
    (_COMPACTION, [("/p", 0, 0, 0, 0, False)]),
]


@pytest.mark.parametrize("ddl,rows", CASES)
def test_local_frame_matches_create_dataframe(spark, ddl, rows):
    from dask_sql_spark.context import local_frame

    df = local_frame(spark, rows, ddl)
    ref = spark.createDataFrame(rows, ddl)
    assert df.isLocal()
    assert df.schema == ref.schema
    assert df.collect() == ref.collect()


def test_local_frame_zero_columns(spark):
    from dask_sql_spark.context import local_frame

    df = local_frame(spark, [], T.StructType([]))
    ref = spark.createDataFrame([], T.StructType([]))
    assert df.isLocal()
    assert df.schema == ref.schema
    assert df.collect() == ref.collect() == []
    assert df.rdd.getNumPartitions() == 0


def test_statement_results_are_local(context, tmp_path):
    """Every converted statement site hands back a local relation."""
    from dask_sql_spark.operators.maintenance import compaction_plan
    from dask_sql_spark.server.presto_jdbc import _catalog_frame

    src = str(tmp_path / "loc_src")
    context.spark.range(0, 10).write.parquet(src)
    context.create_table("loc_t", src)
    context.sql(
        """CREATE OR REPLACE MODEL loc_m WITH (
             model_class = 'tests.dummy_estimator.MeanRegressor',
             target_column = 'b'
           ) AS SELECT CAST(a AS DOUBLE) AS a, b FROM df_simple"""
    )
    try:
        for sql in [
            "SHOW SCHEMAS",
            "SHOW TABLES",
            "SHOW COLUMNS FROM loc_t",
            "SHOW MODELS",
            "DESCRIBE MODEL loc_m",
            "VACUUM loc_t",
            "CREATE SCHEMA loc_s",
            "DROP SCHEMA loc_s",
        ]:
            assert context.sql(sql).isLocal(), sql
        assert compaction_plan(context.spark, src).isLocal()
        for what in ["schemas", "tables", "columns", "catalogs", "table_types"]:
            assert _catalog_frame(context, what).isLocal(), what
    finally:
        context.sql("DROP MODEL IF EXISTS loc_m")
        context.drop_table("loc_t")


def test_create_experiment_result_is_local(context):
    """CREATE EXPERIMENT's result table is a local relation with the schema
    and rows of the pandas path it replaced: every column a string."""
    res = context.sql(
        """CREATE OR REPLACE EXPERIMENT loc_exp WITH (
             model_class = 'tests.dummy_estimator.MeanRegressor',
             target_column = 'b',
             folds = 2,
             tune_parameters.shift = (0.0, 1.0)
           ) AS SELECT CAST(a AS DOUBLE) AS a, b FROM df_simple"""
    )
    try:
        results = context.schemas["root"].experiments["loc_exp"]["results"]
        ref = context.spark.createDataFrame(results.astype(str))
        assert res.isLocal()
        assert res.schema == ref.schema
        assert res.collect() == ref.collect()
        assert len(res.collect()) == 2
    finally:
        context.sql("DROP MODEL IF EXISTS loc_exp")
