"""Custom statement tests: DDL + ML (reference test_create.py,
test_show.py, test_model.py)."""

import os

import pandas as pd
import pytest


def test_create_table_with_location(context, tmp_path):
    p = str(tmp_path / "loc.parquet")
    pd.DataFrame({"x": [1, 2, 3]}).to_parquet(p)
    context.sql(f"CREATE TABLE loc_t WITH (location = '{p}', format = 'parquet')")
    assert context.sql("SELECT COUNT(*) AS n FROM loc_t").collect()[0].n == 3
    context.sql("DROP TABLE loc_t")


def test_create_table_as(context):
    context.sql("CREATE OR REPLACE TABLE ctas_t AS SELECT a * 2 AS a2 FROM df_simple")
    rows = sorted(r.a2 for r in context.sql("SELECT a2 FROM ctas_t").collect())
    assert rows == [2, 4, 6]
    context.sql("DROP TABLE ctas_t")


def test_create_view_lazy(context):
    context.sql("CREATE OR REPLACE VIEW v_t AS SELECT a FROM df_simple WHERE a > 1")
    assert context.sql("SELECT COUNT(*) AS n FROM v_t").collect()[0].n == 2
    context.sql("DROP TABLE v_t")


def test_show_schemas_tables_columns(context):
    schemas = [r.Schema for r in context.sql("SHOW SCHEMAS").collect()]
    assert "root" in schemas
    tables = [r.Table for r in context.sql("SHOW TABLES").collect()]
    assert "df_simple" in tables
    cols = context.sql("SHOW COLUMNS FROM df_simple").collect()
    assert {(r.Column, r.Type) for r in cols} == {("a", "BIGINT"), ("b", "DOUBLE")}


def test_analyze_table(context):
    rows = context.sql(
        "ANALYZE TABLE df_simple COMPUTE STATISTICS FOR COLUMNS a"
    ).collect()
    stats = {r.summary: r.a for r in rows}
    assert stats["count"] == "3" and stats["max"] == "3"


def test_if_not_exists_and_errors(context):
    context.sql("CREATE OR REPLACE TABLE exists_t AS SELECT 1 AS x")
    # IF NOT EXISTS on existing: no-op
    context.sql("CREATE TABLE IF NOT EXISTS exists_t AS SELECT 2 AS x")
    assert context.sql("SELECT x FROM exists_t").collect()[0].x == 1
    with pytest.raises(RuntimeError):
        context.sql("DROP TABLE never_was")
    context.sql("DROP TABLE IF EXISTS never_was")  # tolerated
    context.sql("DROP TABLE exists_t")


def test_create_model_predict_export_describe(context, tmp_path):
    context.sql(
        """CREATE OR REPLACE MODEL m1 WITH (
             model_class = 'tests.dummy_estimator.MeanRegressor',
             target_column = 'b'
           ) AS SELECT CAST(a AS DOUBLE) AS a, b FROM df_simple"""
    )
    models = [r.Model for r in context.sql("SHOW MODELS").collect()]
    assert "m1" in models

    rows = context.sql(
        "SELECT * FROM PREDICT(MODEL m1, SELECT CAST(a AS DOUBLE) AS a FROM df_simple)"
    ).collect()
    assert len(rows) == 3
    assert all(abs(r.target - 2.2) < 1e-9 for r in rows)  # mean of b

    desc = {r.Param: r.Value for r in context.sql("DESCRIBE MODEL m1").collect()}
    assert desc["shift"] == "0.0"

    out = str(tmp_path / "m1.pkl")
    context.sql(f"EXPORT MODEL m1 WITH (format = 'pickle', location = '{out}')")
    assert os.path.exists(out)

    context.sql("DROP MODEL m1")
    with pytest.raises(RuntimeError):
        context.sql("DROP MODEL m1")
    context.sql("DROP MODEL IF EXISTS m1")


def test_predict_missing_training_column_clear_error(context):
    """Round-9 ml audit: a PREDICT select lacking a training column
    raises a driver-side ValueError naming the missing columns instead
    of an executor-side KeyError inside mapInPandas."""
    context.sql(
        """CREATE OR REPLACE MODEL m_cols WITH (
             model_class = 'tests.dummy_estimator.MeanRegressor',
             target_column = 'b'
           ) AS SELECT CAST(a AS DOUBLE) AS a, b FROM df_simple"""
    )
    with pytest.raises(ValueError, match="missing training column.*'a'"):
        context.sql(
            "SELECT * FROM PREDICT(MODEL m_cols, "
            "SELECT CAST(b AS DOUBLE) AS c FROM df_simple)"
        )
    context.sql("DROP MODEL m_cols")


def test_create_experiment_grid_search(context):
    res = context.sql(
        """CREATE OR REPLACE EXPERIMENT exp1 WITH (
             model_class = 'tests.dummy_estimator.MeanRegressor',
             target_column = 'b',
             folds = 2,
             tune_parameters.shift = (0.0, 1.0, 2.0, 5.0)
           ) AS SELECT CAST(a AS DOUBLE) AS a, b FROM df_simple"""
    )
    rows = res.collect()
    assert len(rows) == 4  # one row per shift candidate
    # best model (shift=0 minimizes MSE for a mean predictor) is registered
    models = [r.Model for r in context.sql("SHOW MODELS").collect()]
    assert "exp1" in models
    best = context.schemas["root"].experiments["exp1"]["best_params"]
    assert best == {"shift": 0.0}
    pred = context.sql(
        "SELECT * FROM PREDICT(MODEL exp1, SELECT CAST(a AS DOUBLE) AS a FROM df_simple)"
    ).collect()
    assert len(pred) == 3


def test_alter_table_rename(context):
    import pandas as pd

    context.create_table("alter_src", pd.DataFrame({"x": [7]}))
    context.sql("ALTER TABLE alter_src RENAME TO alter_dst")
    assert context.sql("SELECT x FROM alter_dst").collect()[0].x == 7
    import pytest as _pytest

    with _pytest.raises(Exception):
        context.sql("SELECT x FROM alter_src").collect()
    context.sql("ALTER TABLE IF EXISTS no_such_t RENAME TO whatever")
    context.drop_table("alter_dst")


def test_alter_schema_rename(context):
    import pandas as pd

    context.create_schema("old_s")
    context.create_table("t1", pd.DataFrame({"x": [9]}), schema_name="old_s")
    context.sql("ALTER SCHEMA old_s RENAME TO new_s")
    assert "new_s" in context.schemas and "old_s" not in context.schemas
    assert context.sql("SELECT x FROM new_s.t1").collect()[0].x == 9
    context.drop_schema("new_s")


def test_sql_alter_table_rename_keeps_cache_and_location(context, tmp_path):
    """The SQL rename is the registry move of Context.alter_table: a
    persisted parquet table keeps its cache and file location, so
    OPTIMIZE still works on the new name."""
    loc = str(tmp_path / "sql_alt")
    context.spark.createDataFrame(pd.DataFrame({"a": [1, 2, 3]})).write.parquet(loc)
    context.sql(
        f"CREATE TABLE sql_alt_src WITH (location = '{loc}', "
        "format = 'parquet', persist = true)"
    )
    schema = context.schemas[context.schema_name]
    schema.tables["sql_alt_src"].df.count()  # materialize the cache
    context.sql("ALTER TABLE sql_alt_src RENAME TO sql_alt_dst")
    try:
        assert schema.tables["sql_alt_dst"].df.is_cached
        assert schema.tables["sql_alt_dst"].location == loc
        assert schema.tables["sql_alt_dst"].format == "parquet"
        dest = str(tmp_path / "sql_alt_done")
        context.sql(f"OPTIMIZE sql_alt_dst WITH (dest = '{dest}')").collect()
        assert schema.tables["sql_alt_dst"].location == dest
        n = context.sql("SELECT COUNT(*) AS n FROM sql_alt_dst").collect()[0].n
        assert n == 3
    finally:
        context.drop_table("sql_alt_dst")


def test_sql_alter_table_rename_across_schemas_raises(context):
    context.create_schema("xs_a")
    context.create_table("t1", pd.DataFrame({"x": [1]}), schema_name="xs_a")
    try:
        with pytest.raises(ValueError, match="schemas do not match"):
            context.sql("ALTER TABLE xs_a.t1 RENAME TO root.t1")
        assert "t1" in context.schemas["xs_a"].tables
    finally:
        context.drop_schema("xs_a")


def test_sql_alter_schema_onto_live_schema_raises(context):
    context.create_schema("live_a")
    context.create_schema("live_b")
    context.create_table("t1", pd.DataFrame({"x": [5]}), schema_name="live_b")
    try:
        with pytest.raises(RuntimeError, match="already exists"):
            context.sql("ALTER SCHEMA live_a RENAME TO live_b")
        assert "live_a" in context.schemas
        assert context.sql("SELECT x FROM live_b.t1").collect()[0].x == 5
    finally:
        context.drop_schema("live_a")
        context.drop_schema("live_b")


def test_insert_into(context):
    import pandas as pd

    context.create_table("ins_t", pd.DataFrame({"x": [1], "y": ["a"]}))
    context.sql("INSERT INTO ins_t SELECT 2 AS x, 'b' AS y")
    context.sql("INSERT INTO ins_t VALUES (3, 'c')")
    rows = sorted(tuple(r) for r in context.sql("SELECT * FROM ins_t").collect())
    assert rows == [(1, "a"), (2, "b"), (3, "c")]
    context.drop_table("ins_t")


def test_copy_to(context, tmp_path):
    out = str(tmp_path / "copied")
    context.sql(f"COPY df_simple TO '{out}' WITH (format = 'parquet')")
    back = context.spark.read.parquet(out)
    assert back.count() == 3

    out2 = str(tmp_path / "copied_sel")
    context.sql(
        f"COPY (SELECT a FROM df_simple WHERE a > 1) TO '{out2}' "
        "WITH (format = 'csv', header = true)"
    )
    back2 = context.spark.read.csv(out2, header=True)
    assert back2.count() == 2


def test_qualified_ddl_routes_to_schema(context):
    """Schema-qualified CREATE/INSERT/ALTER/DROP land in the named schema,
    not the current one (ADVICE: statements handlers must _split_qualified)."""
    context.sql("CREATE SCHEMA IF NOT EXISTS s2")
    context.sql("CREATE OR REPLACE TABLE s2.qt AS SELECT 1 AS x")
    assert "qt" in context.schemas["s2"].tables
    assert "qt" not in context.schemas["root"].tables
    assert context.sql("SELECT x FROM s2.qt").collect()[0].x == 1

    context.sql("INSERT INTO s2.qt VALUES (2)")
    assert context.sql("SELECT COUNT(*) AS n FROM s2.qt").collect()[0].n == 2

    context.sql("ALTER TABLE s2.qt RENAME TO qt2")
    assert "qt2" in context.schemas["s2"].tables
    assert "qt" not in context.schemas["s2"].tables
    assert "qt2" not in context.schemas["root"].tables

    context.sql("DROP TABLE s2.qt2")
    assert "qt2" not in context.schemas["s2"].tables
    with pytest.raises(Exception):
        context.sql("SELECT * FROM s2.qt2").collect()
    context.sql("DROP SCHEMA s2")


def test_quoted_qualified_names(context):
    """Double-quoted and backticked identifiers resolve like bare ones."""
    context.sql("CREATE SCHEMA IF NOT EXISTS s3")
    context.sql('CREATE OR REPLACE TABLE "s3"."qq" AS SELECT 7 AS y')
    assert "qq" in context.schemas["s3"].tables
    assert context.sql('SELECT y FROM "s3"."qq"').collect()[0].y == 7
    assert context.sql("SELECT y FROM `s3`.`qq`").collect()[0].y == 7
    context.sql("DROP TABLE `s3`.`qq`")
    assert "qq" not in context.schemas["s3"].tables
    context.sql("DROP SCHEMA s3")


def test_drop_schema_unknown_raises(context):
    with pytest.raises(RuntimeError):
        context.drop_schema("no_such_schema")


def test_create_schema_duplicate_and_replace(context):
    """Reference create_catalog_schema.py:31-43: a duplicate CREATE
    SCHEMA raises unless IF NOT EXISTS (no-op) or OR REPLACE (reset —
    the schema's tables are gone afterwards)."""
    import pandas as pd

    context.sql("CREATE SCHEMA dup_s")
    with pytest.raises(RuntimeError, match="already present"):
        context.sql("CREATE SCHEMA dup_s")
    context.sql("CREATE SCHEMA IF NOT EXISTS dup_s")  # no-op
    context.create_table("keep", pd.DataFrame({"x": [1]}), schema_name="dup_s")
    assert "keep" in context.schemas["dup_s"].tables
    context.sql("CREATE OR REPLACE SCHEMA dup_s")
    assert context.schemas["dup_s"].tables == {}
    context.sql("DROP SCHEMA dup_s")


def test_show_schemas_like_and_catalog(context):
    """Reference show_schemas.py:19-44: SHOW SCHEMAS lists
    information_schema (presto compat), LIKE filters by exact equality,
    and a non-default catalog raises."""
    context.sql("CREATE SCHEMA IF NOT EXISTS like_s")
    try:
        all_schemas = [r.Schema for r in context.sql("SHOW SCHEMAS").collect()]
        assert "information_schema" in all_schemas and "like_s" in all_schemas
        exact = [r.Schema for r in context.sql("SHOW SCHEMAS LIKE 'like_s'").collect()]
        assert exact == ["like_s"]
        # exact equality, not a wildcard match (reference df.Schema == like)
        none = [r.Schema for r in context.sql("SHOW SCHEMAS LIKE 'like_%'").collect()]
        assert none == []
        ok = [r.Schema for r in context.sql("SHOW SCHEMAS FROM dask_sql_spark").collect()]
        assert "like_s" in ok
        with pytest.raises(RuntimeError, match="catalog"):
            context.sql("SHOW SCHEMAS FROM other_catalog")
        # SHOW TABLES FROM [<catalog>.]<schema> (reference show_tables.py)
        context.sql("CREATE OR REPLACE TABLE like_s.lt AS SELECT 1 AS x")
        qual = [
            r.Table
            for r in context.sql("SHOW TABLES FROM dask_sql_spark.like_s").collect()
        ]
        assert qual == ["lt"]
        with pytest.raises(RuntimeError, match="catalog"):
            context.sql("SHOW TABLES FROM wrong_cat.like_s")
    finally:
        context.sql("DROP SCHEMA like_s")


def test_dml_keywords_inside_string_literals(context):
    """r8 adversarial audit: DML clause boundaries (WHERE/WHEN) are found
    on literal-masked text — a string VALUE containing ' WHERE ' or
    'WHEN MATCHED THEN' must neither mis-split the statement nor start a
    clause (the old regexes split UPDATE's SET at the first textual
    WHERE and MERGE's WHEN list at any WHEN, both parse errors)."""
    import pandas as pd

    context.create_table(
        "dmlkw", pd.DataFrame({"x": [1, 2, 3, 4], "s": list("abcd")})
    )
    context.sql("UPDATE dmlkw SET s = ' WHERE x = 1 ' WHERE x = 4")
    assert context.sql(
        "SELECT s FROM dmlkw WHERE x = 4"
    ).collect()[0].s == " WHERE x = 1 "

    context.sql(
        "CREATE OR REPLACE TABLE dmlkw2 AS SELECT x, s FROM dmlkw WHERE x <= 2"
    )
    context.sql(
        """MERGE INTO dmlkw2 USING dmlkw ON dmlkw2.x = dmlkw.x
           WHEN MATCHED THEN UPDATE SET s = 'WHEN MATCHED THEN'
           WHEN NOT MATCHED THEN INSERT (x, s) VALUES (dmlkw.x, dmlkw.s)"""
    )
    rows = sorted((r.x, r.s) for r in context.sql("SELECT x, s FROM dmlkw2").collect())
    assert rows == [
        (1, "WHEN MATCHED THEN"), (2, "WHEN MATCHED THEN"),
        (3, "c"), (4, " WHERE x = 1 "),
    ]

    # ON condition containing a WHEN-laden literal
    context.sql(
        """MERGE INTO dmlkw2 USING dmlkw
           ON dmlkw2.x = dmlkw.x AND dmlkw.s <> ' WHEN '
           WHEN MATCHED THEN DELETE"""
    )
    assert context.sql("SELECT COUNT(*) AS n FROM dmlkw2").collect()[0].n == 0

    context.sql("DELETE FROM dmlkw WHERE s = ' WHERE x = 1 '")
    assert context.sql("SELECT COUNT(*) AS n FROM dmlkw").collect()[0].n == 3
    context.drop_table("dmlkw")
    context.drop_table("dmlkw2")


def test_use_schema_resolves_unqualified_names(context):
    """Reference parity: after USE SCHEMA s, an unqualified table name
    resolves in the current schema (dask-sql context.py current-schema
    resolution); switching back to root restores bare-name resolution."""
    import pandas as pd

    context.sql("CREATE SCHEMA IF NOT EXISTS use_s")
    context.create_table("ut", pd.DataFrame({"x": [1, 2, 3]}), schema_name="use_s")
    context.sql("USE SCHEMA use_s")
    try:
        assert context.sql("SELECT COUNT(*) AS n FROM ut").collect()[0].n == 3
        assert context.sql("SELECT SUM(x) AS s FROM `ut`").collect()[0].s == 6
    finally:
        context.sql("USE SCHEMA root")
    with pytest.raises(Exception):
        context.sql("SELECT * FROM ut").collect()  # not in root
    context.sql("DROP SCHEMA use_s")


def test_use_schema_ignores_from_call_syntax(context):
    """r9 advisor fix: under USE SCHEMA s, a column reference after the
    FROM of EXTRACT(unit FROM expr) / TRIM(... FROM s) / OVERLAY /
    SUBSTRING that shares a table's name must NOT be rewritten to the
    mangled view name — FROM there is call syntax, not table position."""
    import pandas as pd

    context.sql("CREATE SCHEMA IF NOT EXISTS use_fx")
    # table named `ts` + a table `txt` whose column is also named ts/txt
    context.create_table(
        "ts",
        pd.DataFrame({"ts": pd.to_datetime(["2024-03-05", "2025-07-01"])}),
        schema_name="use_fx",
    )
    context.create_table(
        "txt", pd.DataFrame({"txt": ["  pad  ", "xx"]}), schema_name="use_fx"
    )
    context.sql("USE SCHEMA use_fx")
    try:
        years = sorted(
            r.y
            for r in context.sql(
                "SELECT EXTRACT(YEAR FROM ts) AS y FROM ts"
            ).collect()
        )
        assert years == [2024, 2025]
        trimmed = sorted(
            r.t
            for r in context.sql(
                "SELECT TRIM(BOTH ' ' FROM txt) AS t FROM txt"
            ).collect()
        )
        assert trimmed == ["pad", "xx"]
        # derived-table FROM nested deeper than the call still rewrites
        n = context.sql(
            "SELECT COUNT(*) AS n FROM (SELECT EXTRACT(DAY FROM ts) AS d FROM ts) q"
        ).collect()[0].n
        assert n == 2
    finally:
        context.sql("USE SCHEMA root")
        context.sql("DROP SCHEMA use_fx")


def test_show_schemas_like_unquoted(context):
    """r9 advisor fix: SHOW SCHEMAS LIKE foo (bare identifier) filters the
    registry exactly like the quoted form instead of falling through to
    spark.sql and returning Spark's own catalogs."""
    context.sql("CREATE SCHEMA IF NOT EXISTS like_u")
    try:
        got = [r.Schema for r in context.sql("SHOW SCHEMAS LIKE like_u").collect()]
        assert got == ["like_u"]
        missing = [
            r.Schema for r in context.sql("SHOW SCHEMAS LIKE nope_zz").collect()
        ]
        assert missing == []
    finally:
        context.sql("DROP SCHEMA like_u")


def test_parse_kwargs_nested_parens():
    from dask_sql_spark.plans.statements import parse_kwargs

    out = parse_kwargs(
        "model_class = 'X', steps = (List(a(1), b(2)), c(3)), n = 4, flag = True"
    )
    assert out["model_class"] == "X"
    assert out["steps"] == "(List(a(1), b(2)), c(3))"
    assert out["n"] == 4 and out["flag"] is True


def test_parse_kwargs_quoted_commas_and_floats():
    from dask_sql_spark.plans.statements import parse_kwargs

    out = parse_kwargs("a = 'x,y((z', b = 1.5, c = bare_word")
    assert out == {"a": "x,y((z", "b": 1.5, "c": "bare_word"}


def test_create_model_size_guard(context):
    """Oversized training selects raise instead of hanging the driver;
    sample= and max_fit_rows= are the escape hatches."""
    with pytest.raises(RuntimeError, match="more than 2 rows"):
        context.sql(
            """CREATE OR REPLACE MODEL m_guard WITH (
                 model_class = 'tests.dummy_estimator.MeanRegressor',
                 target_column = 'b',
                 max_fit_rows = 2
               ) AS SELECT CAST(a AS DOUBLE) AS a, b FROM df_simple"""
        )
    # raising the cap (or sampling) fits fine
    context.sql(
        """CREATE OR REPLACE MODEL m_guard WITH (
             model_class = 'tests.dummy_estimator.MeanRegressor',
             target_column = 'b',
             max_fit_rows = 10,
             sample = 1.0
           ) AS SELECT CAST(a AS DOUBLE) AS a, b FROM df_simple"""
    )
    context.sql("DROP MODEL m_guard")


def test_analyze_catalog_table_native_stats(context):
    """ANALYZE on a catalog-backed table also runs Spark's native COMPUTE
    STATISTICS so the CBO sees real rowCount/column stats."""
    spark = context.spark
    spark.sql("DROP TABLE IF EXISTS cat_stats_t")
    spark.createDataFrame(
        [(i, i % 3) for i in range(100)], "k INT, v INT"
    ).write.mode("overwrite").saveAsTable("cat_stats_t")
    try:
        context.sql(
            "ANALYZE TABLE cat_stats_t COMPUTE STATISTICS FOR ALL COLUMNS"
        ).collect()
        detail = {
            r.col_name: r.data_type
            for r in spark.sql("DESCRIBE EXTENDED cat_stats_t").collect()
        }
        assert "Statistics" in detail and "100 rows" in detail["Statistics"]
    finally:
        spark.sql("DROP TABLE IF EXISTS cat_stats_t")


def test_merge_into_upsert(context):
    """MERGE upsert: matched rows update, unmatched source rows insert."""
    context.sql("CREATE OR REPLACE TABLE m_tgt AS SELECT * FROM (VALUES (1, 10.0), (2, 20.0)) AS v(k, val)")
    context.sql("CREATE OR REPLACE TABLE m_src AS SELECT * FROM (VALUES (2, 99.0), (3, 30.0)) AS v(k, val)")
    context.sql(
        """MERGE INTO m_tgt AS t USING m_src AS s ON t.k = s.k
           WHEN MATCHED THEN UPDATE SET val = s.val + 0.5
           WHEN NOT MATCHED THEN INSERT (k, val) VALUES (s.k, s.val)"""
    )
    rows = {r.k: r.val for r in context.sql("SELECT k, val FROM m_tgt").collect()}
    assert rows == {1: 10.0, 2: 99.5, 3: 30.0}
    context.sql("DROP TABLE m_tgt")
    context.sql("DROP TABLE m_src")


def test_merge_into_delete(context):
    context.sql("CREATE OR REPLACE TABLE m_tgt2 AS SELECT * FROM (VALUES (1, 'a'), (2, 'b'), (3, 'c')) AS v(k, s)")
    context.sql(
        """MERGE INTO m_tgt2 USING (SELECT 2 AS k) AS src ON m_tgt2.k = src.k
           WHEN MATCHED THEN DELETE"""
    )
    assert sorted(r.k for r in context.sql("SELECT k FROM m_tgt2").collect()) == [1, 3]
    context.sql("DROP TABLE m_tgt2")


def test_merge_into_subquery_source_and_defaults(context):
    """Unlisted insert columns fill with NULL; source can be a subquery."""
    context.sql("CREATE OR REPLACE TABLE m_tgt3 AS SELECT * FROM (VALUES (1, 10.0, 'x')) AS v(k, val, tag)")
    context.sql(
        """MERGE INTO m_tgt3 AS t
           USING (SELECT 5 AS k, 50.0 AS val) AS s ON t.k = s.k
           WHEN MATCHED THEN UPDATE SET val = s.val
           WHEN NOT MATCHED THEN INSERT (k, val) VALUES (s.k, s.val)"""
    )
    rows = {r.k: (r.val, r.tag) for r in context.sql("SELECT * FROM m_tgt3").collect()}
    assert rows == {1: (10.0, "x"), 5: (50.0, None)}
    context.sql("DROP TABLE m_tgt3")


def test_delete_from_where(context):
    context.sql("CREATE OR REPLACE TABLE del_t AS SELECT * FROM user_table_1")
    context.sql("DELETE FROM del_t WHERE b = 3")
    rows = context.sql("SELECT * FROM del_t").collect()
    assert [r.b for r in rows] == [1]
    # DELETE without WHERE empties but keeps the schema
    context.sql("DELETE FROM del_t")
    out = context.sql("SELECT * FROM del_t")
    assert out.count() == 0 and set(out.columns) == {"user_id", "b"}


def test_update_set_where(context):
    context.sql("CREATE OR REPLACE TABLE upd_t AS SELECT * FROM user_table_1")
    context.sql("UPDATE upd_t SET b = b * 10 WHERE user_id = 2")
    rows = {
        (r.user_id, r.b) for r in context.sql("SELECT * FROM upd_t").collect()
    }
    assert rows == {(2, 30), (1, 3), (2, 10), (3, 3)}
    # unqualified UPDATE touches every row; unknown column raises
    context.sql("UPDATE upd_t SET b = 0")
    assert {r.b for r in context.sql("SELECT * FROM upd_t").collect()} == {0}
    with pytest.raises(ValueError, match="unknown column"):
        context.sql("UPDATE upd_t SET nope = 1")


def test_update_delete_qualified_schema(context):
    context.sql("CREATE SCHEMA IF NOT EXISTS dml_s")
    context.sql(
        "CREATE OR REPLACE TABLE dml_s.t2 AS SELECT * FROM user_table_2"
    )
    context.sql("UPDATE dml_s.t2 SET c = c + 100 WHERE c >= 3")
    context.sql("DELETE FROM dml_s.t2 WHERE c = 1")
    rows = sorted(r.c for r in context.sql("SELECT * FROM dml_s.t2").collect())
    assert rows == [2, 103, 104]


def test_distributed_metrics_match_reference_formulas(spark):
    """accuracy / log_loss / mse / r2 as single-pass Spark aggregates
    (reference metrics.py computes the same over dask arrays)."""
    import math

    from dask_sql_spark.ml.metrics import (
        accuracy_score,
        log_loss,
        mean_squared_error,
        r2_score,
    )

    df = spark.createDataFrame(
        [(1, 1, 0.9, 2.0), (0, 1, 0.8, 1.0), (1, 1, 0.7, 3.0), (0, 0, 0.2, 1.0)],
        "y LONG, pred LONG, p DOUBLE, w DOUBLE",
    )
    assert accuracy_score(df, "y", "pred") == 0.75
    assert accuracy_score(df, "y", "pred", normalize=False) == 3.0
    # weighted: hits carry weight 2+3+1 of total 7
    assert abs(accuracy_score(df, "y", "pred", sample_weight_col="w") - 6 / 7) < 1e-12
    expected_ll = -(
        math.log(0.9) + math.log(1 - 0.8) + math.log(0.7) + math.log(1 - 0.2)
    ) / 4
    assert abs(log_loss(df, "y", "p") - expected_ll) < 1e-12

    reg = spark.createDataFrame(
        [(1.0, 1.5), (2.0, 2.0), (3.0, 2.5)], "y DOUBLE, pred DOUBLE"
    )
    assert abs(mean_squared_error(reg, "y", "pred") - (0.25 + 0 + 0.25) / 3) < 1e-12
    # SS_res = 0.5, SS_tot = 2 → r2 = 0.75
    assert abs(r2_score(reg, "y", "pred") - 0.75) < 1e-12


def test_evaluate_single_pass_matches_scalar_helpers(spark):
    """evaluate() fuses every metric into one aggregate job and must
    agree with the one-metric helpers bit for bit."""
    import math

    from dask_sql_spark.ml.metrics import (
        accuracy_score,
        evaluate,
        log_loss,
        mean_squared_error,
        r2_score,
    )

    df = spark.createDataFrame(
        [(1, 1, 0.9), (0, 1, 0.8), (1, 1, 0.7), (0, 0, 0.2)],
        "y LONG, pred LONG, p DOUBLE",
    )
    m = evaluate(df, "y", "pred", prob_col="p")
    assert m["accuracy"] == accuracy_score(df, "y", "pred")
    assert abs(m["log_loss"] - log_loss(df, "y", "p")) < 1e-15
    assert abs(m["mse"] - mean_squared_error(df, "y", "pred")) < 1e-15
    assert abs(m["rmse"] - math.sqrt(m["mse"])) < 1e-15
    assert abs(m["r2"] - r2_score(df, "y", "pred")) < 1e-15


def test_accuracy_score_string_labels(spark):
    """String classification labels are reference-parity for
    accuracy_score (dask-ml computes plain equality); the fused
    evaluate() pass must not crash on them — regression metrics come
    back nan (try_cast NULLs), accuracy stays exact."""
    import math

    from dask_sql_spark.ml.metrics import accuracy_score, evaluate

    df = spark.createDataFrame(
        [("cat", "cat"), ("dog", "cat"), ("cat", "cat"), ("bird", "bird")],
        "y STRING, pred STRING",
    )
    assert accuracy_score(df, "y", "pred") == 0.75
    assert accuracy_score(df, "y", "pred", normalize=False) == 3.0
    m = evaluate(df, "y", "pred")
    assert m["accuracy"] == 0.75
    assert math.isnan(m["mse"]) and math.isnan(m["rmse"]) and math.isnan(m["r2"])


def test_evaluate_partial_null_consistent_population(spark):
    """Round-10 audit, pinned: on partially-numeric inputs the
    regression metrics use ONE population — the valid pairs — for both
    SS_res and SS_tot. The old code summed SS_res over valid pairs but
    divided SS_tot by the FULL row count, skewing r2 whenever any
    label/pred failed the cast."""
    from dask_sql_spark.ml.metrics import evaluate

    df = spark.createDataFrame(
        [("1", "1.5"), ("2", "2.5"), ("3", "2.0"), ("oops", "1.0")],
        "y STRING, pred STRING",
    )
    m = evaluate(df, "y", "pred")
    # valid pairs: (1,1.5),(2,2.5),(3,2.0) — same numbers pandas gives
    import numpy as np

    y = np.array([1.0, 2.0, 3.0]); p = np.array([1.5, 2.5, 2.0])
    ss_res = float(((y - p) ** 2).sum())
    ss_tot = float(((y - y.mean()) ** 2).sum())
    assert abs(m["r2"] - (1.0 - ss_res / ss_tot)) < 1e-12
    assert abs(m["mse"] - ss_res / 3) < 1e-12


def test_threshold_classifier_learns_mean(context):
    import pandas as pd

    context.create_table(
        "thr_t", pd.DataFrame({"x": [0.0, 2.0, 4.0, 6.0]})
    )
    context.sql(
        """CREATE OR REPLACE MODEL thr_m WITH (
             model_class = 'dask_sql_spark.ml.simple.ThresholdClassifier',
             column = 'x'
           ) AS SELECT x FROM thr_t"""
    )
    # learned threshold = mean(x) = 3 → predictions split 2/2
    rows = context.sql(
        "SELECT x, target FROM PREDICT(MODEL thr_m, SELECT x FROM thr_t)"
    ).collect()
    got = {r["x"]: r["target"] for r in rows}
    assert got == {0.0: 0.0, 2.0: 0.0, 4.0: 1.0, 6.0: 1.0}


def test_optimize_table_compacts_and_swaps(context, tmp_path):
    """OPTIMIZE: fragmented location → compacted dest, registration swaps
    to the new location, content identical, report row returned."""
    src = str(tmp_path / "frag_opt")
    context.spark.range(0, 1000).selectExpr(
        "id", "id * 2 AS v"
    ).repartition(20).write.mode("overwrite").parquet(src)
    context.create_table("opt_t", src)
    before = context.sql("SELECT COUNT(*) AS n, SUM(v) AS s FROM opt_t").collect()[0]

    report = context.sql(
        f"OPTIMIZE opt_t WITH (target_bytes = 1048576, dest = '{tmp_path / 'opt_done'}')"
    ).collect()[0]
    assert report.n_files == 1 and not report.needs_compaction

    after = context.sql("SELECT COUNT(*) AS n, SUM(v) AS s FROM opt_t").collect()[0]
    assert (before.n, before.s) == (after.n, after.s)

    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        context.sql("OPTIMIZE no_such_table")


def test_vacuum_reclaims_superseded_location(context, tmp_path):
    """OPTIMIZE retains the old location for rollback; VACUUM dry_run
    lists it, real VACUUM deletes it, and the live location survives."""
    import os

    src = str(tmp_path / "vac_src")
    context.spark.range(0, 100).selectExpr("id", "id * 2 AS v").repartition(
        4
    ).write.mode("overwrite").parquet(src)
    context.create_table("vac_t", src)
    dest = str(tmp_path / "vac_done")
    context.sql(f"OPTIMIZE vac_t WITH (dest = '{dest}')").collect()
    assert os.path.isdir(src)  # retained until VACUUM

    dry = context.sql("VACUUM vac_t WITH (dry_run = true)").collect()
    assert [(r.location, r.action) for r in dry] == [(src, "would_delete")]
    assert os.path.isdir(src)

    real = context.sql("VACUUM vac_t").collect()
    assert [(r.location, r.action, r.deleted) for r in real] == [
        (src, "deleted", True)
    ]
    assert not os.path.exists(src)
    assert os.path.isdir(dest)  # live location untouched
    assert context.sql("SELECT COUNT(*) AS n FROM vac_t").collect()[0].n == 100

    # ledger drained: second VACUUM is a no-op report
    again = context.sql("VACUUM vac_t").collect()
    assert [(r.action,) for r in again] == [("nothing_to_vacuum",)]

    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        context.sql("VACUUM no_such_table")


@pytest.mark.parametrize(
    "stmt, want",
    [
        ("INSERT INTO {t} VALUES (4)", [1, 2, 3, 4]),
        ("DELETE FROM {t} WHERE a = 1", [2, 3]),
        ("UPDATE {t} SET a = 20 WHERE a = 2", [1, 3, 20]),
        (
            "MERGE INTO {t} AS tt USING (SELECT 3 AS a) AS s ON tt.a = s.a "
            "WHEN MATCHED THEN DELETE",
            [1, 2],
        ),
        ("CREATE OR REPLACE TABLE {t} AS SELECT 42 AS a", [42]),
    ],
    ids=["insert", "delete", "update", "merge", "ctas_replace"],
)
def test_optimize_refuses_table_rewritten_by_dml(context, tmp_path, stmt, want):
    """A statement that re-registers a parquet-backed table from a
    DataFrame leaves it with no file location: OPTIMIZE must refuse it
    rather than compact the original files and undo the statement."""
    loc = str(tmp_path / "dml_opt")
    context.spark.createDataFrame(pd.DataFrame({"a": [1, 2, 3]})).write.parquet(loc)
    context.create_table("dml_opt_t", loc)
    try:
        context.sql(stmt.format(t="dml_opt_t"))
        with pytest.raises(RuntimeError, match="requires a file-backed table"):
            context.sql(f"OPTIMIZE dml_opt_t WITH (dest = '{tmp_path / 'done'}')")
        got = context.sql("SELECT a FROM dml_opt_t").collect()
        assert sorted(r.a for r in got) == want
    finally:
        context.drop_table("dml_opt_t")


def test_drop_discards_statistics_and_rename_keeps_vacuum_ledger(
    context, tmp_path
):
    """DROP TABLE discards the whole record, statistics included; ALTER
    TABLE RENAME moves it, so VACUUM on the new name still reclaims the
    location OPTIMIZE superseded under the old one."""
    from dask_sql_spark import Statistics

    tables = context.schemas[context.schema_name].tables
    frame = pd.DataFrame({"a": [1]})
    context.create_table("stat_t", frame, statistics=Statistics(row_count=99))
    assert tables["stat_t"].statistics.row_count == 99
    context.sql("DROP TABLE stat_t")
    context.create_table("stat_t", frame)
    try:
        assert tables["stat_t"].statistics is None
    finally:
        context.drop_table("stat_t")

    src = str(tmp_path / "ren_src")
    context.spark.createDataFrame(pd.DataFrame({"a": [1, 2, 3]})).write.parquet(src)
    context.create_table("ren_a", src)
    context.sql(f"OPTIMIZE ren_a WITH (dest = '{tmp_path / 'ren_done'}')").collect()
    context.sql("ALTER TABLE ren_a RENAME TO ren_b")
    try:
        real = context.sql("VACUUM ren_b").collect()
        assert [(r.location, r.action, r.deleted) for r in real] == [
            (src, "deleted", True)
        ]
        assert not os.path.exists(src)
        assert context.sql("SELECT COUNT(*) AS n FROM ren_b").collect()[0].n == 3
    finally:
        context.drop_table("ren_b")


def test_optimize_preserves_csv_format(context, tmp_path):
    """OPTIMIZE on a csv-backed table must rewrite csv, not parquet."""
    import glob

    src = str(tmp_path / "frag_csv")
    context.spark.range(0, 100).selectExpr("id", "id * 3 AS v").repartition(
        5
    ).write.mode("overwrite").option("header", True).csv(src)
    context.create_table("opt_csv_t", src, format="csv")
    before = context.sql("SELECT COUNT(*) AS n, SUM(v) AS s FROM opt_csv_t").collect()[0]

    dest = tmp_path / "csv_done"
    context.sql(f"OPTIMIZE opt_csv_t WITH (dest = '{dest}')").collect()
    assert glob.glob(str(dest / "*.csv")), "dest must contain csv data files"
    assert not glob.glob(str(dest / "*.parquet"))

    after = context.sql("SELECT COUNT(*) AS n, SUM(v) AS s FROM opt_csv_t").collect()[0]
    assert (before.n, before.s) == (after.n, after.s)


def test_optimize_preserves_nano_timestamp_columns(context, tmp_path):
    """A parquet table with timestamp[ns] columns (read as BIGINT under
    nanosAsLong + repaired by read_location) must still expose TIMESTAMP
    after OPTIMIZE swaps in the compacted location."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "nano_opt"
    src.mkdir()
    ts = pd.to_datetime(
        ["2024-01-01 00:00:00.123456789", "2024-01-02 12:34:56.987654321"]
    )
    table = pa.table(
        {"ts": pa.array(ts, type=pa.timestamp("ns")), "v": [1, 2]}
    )
    pq.write_table(table, src / "part0.parquet")
    context.create_table("nano_t", str(src))
    before = context.sql(
        "SELECT CAST(MIN(ts) AS STRING) AS lo, SUM(v) AS s FROM nano_t"
    ).collect()[0]
    assert dict(context.sql("SELECT * FROM nano_t").dtypes)["ts"] == "timestamp"

    context.sql(
        f"OPTIMIZE nano_t WITH (dest = '{tmp_path / 'nano_done'}')"
    ).collect()
    assert dict(context.sql("SELECT * FROM nano_t").dtypes)["ts"] == "timestamp"
    after = context.sql(
        "SELECT CAST(MIN(ts) AS STRING) AS lo, SUM(v) AS s FROM nano_t"
    ).collect()[0]
    assert (before.lo, before.s) == (after.lo, after.s)


def test_mean_regressor_statement_path(context):
    context.sql(
        """CREATE OR REPLACE MODEL mr WITH (
             model_class = 'dask_sql_spark.ml.simple.MeanRegressor',
             target_column = 'y'
           ) AS SELECT CAST(v AS DOUBLE) AS y FROM (VALUES (2.0), (4.0)) t(v)"""
    )
    out = context.sql(
        "SELECT target FROM PREDICT(MODEL mr, SELECT 1 AS x)"
    ).collect()
    assert out[0].target == 3.0

    import pytest as _pytest

    from dask_sql_spark.ml.simple import MeanRegressor

    with _pytest.raises(ValueError):
        MeanRegressor().fit([[1.0]])


def test_dml_sequence_matches_pandas_model(context):
    """Differential fuzz of the DML handlers (r8 literal-masked
    rewrite): random INSERT/UPDATE/DELETE sequences against a scratch
    table must match a pure-pandas model of the same statements. Values
    include keyword-laden strings so the clause-boundary masking stays
    honest."""
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    vals = st.sampled_from(
        ["plain", " WHERE x = 1 ", "WHEN MATCHED THEN", "a,b", "it''s", ""]
    )
    ops = st.lists(
        st.tuples(st.sampled_from(["insert", "update", "delete"]),
                  st.integers(min_value=0, max_value=9), vals),
        min_size=1, max_size=6,
    )

    @settings(max_examples=25, deadline=None)
    @given(ops=ops)
    def check(ops):
        context.create_table(
            "dml_fuzz", pd.DataFrame({"x": [0, 1, 2], "s": ["a", "b", "c"]})
        )
        model = pd.DataFrame({"x": [0, 1, 2], "s": ["a", "b", "c"]})
        try:
            for op, key, val in ops:
                sql_val = val  # '' escapes already doubled in the corpus
                pd_val = val.replace("''", "'")
                if op == "insert":
                    context.sql(f"INSERT INTO dml_fuzz VALUES ({key}, '{sql_val}')")
                    model = pd.concat(
                        [model, pd.DataFrame({"x": [key], "s": [pd_val]})],
                        ignore_index=True,
                    )
                elif op == "update":
                    context.sql(
                        f"UPDATE dml_fuzz SET s = '{sql_val}' WHERE x = {key}"
                    )
                    model.loc[model.x == key, "s"] = pd_val
                else:
                    context.sql(f"DELETE FROM dml_fuzz WHERE x = {key}")
                    model = model[model.x != key]
            got = sorted(
                (r.x, r.s) for r in context.sql("SELECT x, s FROM dml_fuzz").collect()
            )
            want = sorted(zip(model.x.tolist(), model.s.tolist()))
            assert got == want, (ops, got, want)
        finally:
            context.drop_table("dml_fuzz")

    check()


@pytest.mark.parametrize("kind", ["Model", "Experiment"])
def test_create_model_experiment_head_guards(context, kind):
    """CREATE MODEL and CREATE EXPERIMENT share their head: each error
    names its own statement, and the exists guards act on that
    statement's registry before anything is trained."""
    word = kind.upper()
    with pytest.raises(ValueError, match=f"CREATE {word}: unbalanced"):
        context.sql(f"CREATE {word} g WITH (a = 1 AS SELECT 1")
    with pytest.raises(ValueError, match=f"CREATE {word} requires `AS"):
        context.sql(f"CREATE {word} g WITH (a = 1) SELECT 1")
    registry = getattr(context.schemas[context.schema_name], f"{kind.lower()}s")
    registry["dup_g"] = (None, [])
    try:
        with pytest.raises(RuntimeError, match=f"{kind} dup_g already exists"):
            context.sql(f"CREATE {word} dup_g WITH (a = 1) AS SELECT 1")
        context.sql(f"CREATE {word} IF NOT EXISTS dup_g WITH (a = 1) AS SELECT 1")
        assert registry["dup_g"] == (None, [])
    finally:
        registry.pop("dup_g", None)
