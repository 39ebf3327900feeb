"""Presto wire server + CLI tests (reference test_server.py, test_jdbc.py,
test_cmd.py)."""

import json
import time
import urllib.request

import pytest


def _reject_constant(token: str):
    raise ValueError(f"non-JSON token {token} in the response body")


def _read_json(resp) -> dict:
    """Parse a response body strictly (RFC 8259): NaN/Infinity tokens fail."""
    return json.loads(resp.read(), parse_constant=_reject_constant)


@pytest.fixture(scope="module")
def server(context):
    from dask_sql_spark.server.app import run_server

    s = run_server(context, host="127.0.0.1", port=0, blocking=False)
    yield s
    s.stop()


def _post(server, sql: str) -> dict:
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}/v1/statement",
        data=sql.encode(),
        method="POST",
    )
    with urllib.request.urlopen(req) as resp:
        return _read_json(resp)


def _poll(payload: dict, timeout: float = 30.0) -> dict:
    """Presto client loop: follow nextUri until absent, accumulating data
    pages; returns the final payload with all rows merged."""
    deadline = time.time() + timeout
    data: list = list(payload.get("data", []))
    columns = payload.get("columns")
    pages = 1 if payload.get("data") else 0
    while "nextUri" in payload and time.time() < deadline:
        with urllib.request.urlopen(payload["nextUri"]) as resp:
            payload = _read_json(resp)
        if payload.get("data"):
            data.extend(payload["data"])
            pages += 1
        columns = payload.get("columns") or columns
        if payload.get("stats", {}).get("state") in ("FINISHED", "FAILED"):
            break
        time.sleep(0.02)
    payload["data"] = data
    if columns is not None:
        payload["columns"] = columns
    payload["pages"] = pages
    return payload


def test_statement_roundtrip(server):
    payload = _poll(_post(server, "SELECT 1 + 1 AS two"))
    assert payload["stats"]["state"] == "FINISHED"
    assert payload["columns"][0]["name"] == "two"
    assert payload["data"] == [[2]]


def test_statement_over_table(server):
    payload = _poll(
        _post(server, "SELECT a, b FROM df_simple ORDER BY a")
    )
    assert payload["stats"]["state"] == "FINISHED"
    assert [c["name"] for c in payload["columns"]] == ["a", "b"]
    assert [row[0] for row in payload["data"]] == [1, 2, 3]


def test_statement_error_reported(server):
    payload = _poll(_post(server, "SELECT * FROM table_that_is_not_there"))
    assert payload["stats"]["state"] == "FAILED"
    assert "error" in payload


def test_cancel(server):
    first = _post(server, "SELECT COUNT(*) AS n FROM df")
    qid = first["id"]
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}/v1/cancel/{qid}", method="DELETE"
    )
    with urllib.request.urlopen(req) as resp:
        assert resp.status == 200


def test_jdbc_metadata(server):
    payload = _poll(_post(server, "SELECT * FROM system.jdbc.tables"))
    assert payload["stats"]["state"] == "FINISHED"
    names = [row[2] for row in payload["data"]]
    assert "df_simple" in names
    payload = _poll(_post(server, "SELECT * FROM system.jdbc.columns"))
    cols = {(row[2], row[3]) for row in payload["data"]}
    assert ("df_simple", "a") in cols


def test_jdbc_metadata_query_actually_executes(server):
    """r9 wire audit: the shim must run the client's REAL query — WHERE,
    projection, and ORDER BY apply to the metadata views instead of
    replaying the whole catalog."""
    payload = _poll(
        _post(
            server,
            "SELECT table_schem, table_name FROM system.jdbc.tables "
            "WHERE table_schem = 'zz_no_such_schema'",
        )
    )
    assert payload["stats"]["state"] == "FINISHED"
    assert payload["data"] == []
    assert [c["name"] for c in payload["columns"]] == [
        "table_schem",
        "table_name",
    ]
    payload = _poll(
        _post(
            server,
            "SELECT column_name FROM system.jdbc.columns "
            "WHERE table_name = 'df_simple' ORDER BY ordinal_position",
        )
    )
    assert [r[0] for r in payload["data"]] == ["a", "b"]


def test_jdbc_ref_inside_string_literal_is_data(server):
    """r9 wire audit: 'system.jdbc.tables' inside a string VALUE is data —
    the query must run as an ordinary statement, not be hijacked into a
    metadata replay."""
    payload = _poll(
        _post(server, "SELECT 'see system.jdbc.tables docs' AS tip")
    )
    assert payload["stats"]["state"] == "FINISHED"
    assert payload["data"] == [["see system.jdbc.tables docs"]]
    assert payload["columns"][0]["name"] == "tip"


def test_nested_values_serialize(server):
    """r9 wire audit: arrays/structs holding temporals crashed the JSON
    encoder and dropped the connection; they now serialize recursively
    with proper Presto type names."""
    payload = _poll(
        _post(
            server,
            "SELECT array(DATE '2024-01-01', DATE '2024-01-02') AS ds, "
            "named_struct('a', 1, 'when', DATE '2024-01-01') AS st",
        )
    )
    assert payload["stats"]["state"] == "FINISHED"
    [[ds, st]] = payload["data"]
    assert ds == ["2024-01-01", "2024-01-02"]
    assert st == {"a": 1, "when": "2024-01-01"}
    types = {c["name"]: c["type"] for c in payload["columns"]}
    assert types["ds"] == "array(date)"
    assert types["st"] == "row(a integer,when date)"


def test_double_quoted_identifiers(server, context):
    """Reference dialect parity (Calcite/ANSI): double quotes quote
    IDENTIFIERS, so keyword-laden names work through the wire."""
    import pandas as pd

    context.create_table("select", pd.DataFrame({"from": [7]}))
    try:
        payload = _poll(_post(server, 'SELECT "from" FROM "select"'))
        assert payload["stats"]["state"] == "FINISHED"
        assert payload["data"] == [[7]]
    finally:
        context.drop_table("select")


def test_non_utf8_body_is_400(server):
    """r9 wire audit: a malformed (non-UTF-8) POST body gets a JSON 400,
    not a dropped connection."""
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}/v1/statement",
        data=b"SELECT '\xff\xfe'",
        method="POST",
    )
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(req)
    assert ei.value.code == 400


def test_multi_page_fetch(context):
    """A result larger than page_size streams across several nextUri pages
    (reference pages via server/app.py:40-66 + responses.py)."""
    from dask_sql_spark.server.app import run_server

    s = run_server(context, host="127.0.0.1", port=0, blocking=False, page_size=7)
    try:
        payload = _poll(
            _post(s, "SELECT id FROM RANGE(25) ORDER BY id"), timeout=60.0
        )
        assert payload["stats"]["state"] == "FINISHED"
        assert payload["pages"] >= 3  # 25 rows / 7 per page
        assert [r[0] for r in payload["data"]] == list(range(25))
    finally:
        s.stop()


def test_finished_state_evicted(server):
    first = _post(server, "SELECT 5 AS five")
    qid = first["id"]
    payload = _poll(first)
    assert payload["stats"]["state"] == "FINISHED"
    # final poll served → state evicted; the registry must not grow forever
    deadline = time.time() + 5
    while qid in server.queries and time.time() < deadline:
        time.sleep(0.05)
    assert qid not in server.queries


def test_non_finite_doubles_are_strict_json(server):
    """NaN and ±inf travel as the strings Presto's Jackson encoding uses,
    also inside arrays, maps and structs: a strict RFC 8259 parser reads
    every body."""
    payload = _poll(
        _post(
            server,
            "SELECT CAST('NaN' AS DOUBLE) AS n, CAST('Infinity' AS DOUBLE) AS p, "
            "CAST('-Infinity' AS DOUBLE) AS m, 1.5D AS f, "
            "array(CAST('NaN' AS DOUBLE), 2.0D) AS a, "
            "map('k', CAST('Infinity' AS DOUBLE)) AS mp, "
            "named_struct('x', CAST('-Infinity' AS DOUBLE)) AS st",
        )
    )
    assert payload["stats"]["state"] == "FINISHED"
    assert payload["data"] == [
        ["NaN", "Infinity", "-Infinity", 1.5, ["NaN", 2.0], {"k": "Infinity"},
         {"x": "-Infinity"}]
    ]


def _finished_jobs(server, sql: str) -> tuple[dict, list[int]]:
    """Run ``sql`` to FINISHED; return the payload and the Spark jobs its
    query's job group started."""
    first = _post(server, sql)
    payload = _poll(first)
    assert payload["stats"]["state"] == "FINISHED", (sql, payload)
    tracker = server.context.spark.sparkContext.statusTracker()
    return payload, list(tracker.getJobIdsForGroup(first["id"]))


def test_local_results_start_no_job(server, tmp_path):
    """DDL, DML-into-registry and SHOW answers are local relations: the
    server collects them with no Spark job. A SELECT over a parquet table
    still runs distributed."""
    import pandas as pd

    src = str(tmp_path / "nojob.parquet")
    pd.DataFrame({"k": [3, 1, 2], "v": ["c", "a", "b"]}).to_parquet(src)
    server.context.create_table("nojob_src", src)
    statements = [
        "CREATE SCHEMA nojob_s",
        "CREATE TABLE nojob_s.nojob_t AS SELECT * FROM nojob_src",
        "INSERT INTO nojob_s.nojob_t SELECT * FROM nojob_src",
        "SHOW TABLES",
        "SHOW SCHEMAS",
        "SHOW COLUMNS FROM nojob_s.nojob_t",
        "DROP TABLE nojob_s.nojob_t",
        "USE SCHEMA nojob_s",
        "USE SCHEMA root",
        "DROP SCHEMA nojob_s",
    ]
    try:
        for sql in statements:
            payload, jobs = _finished_jobs(server, sql)
            assert jobs == [], (sql, jobs)
        payload, jobs = _finished_jobs(server, "SHOW TABLES")
        assert ["nojob_src"] in payload["data"]
        payload, jobs = _finished_jobs(
            server, "SELECT k, v FROM nojob_src WHERE k >= 2 ORDER BY k"
        )
        assert len(jobs) >= 1
        assert payload["data"] == [[2, "b"], [3, "c"]]
    finally:
        server.context.schema_name = "root"
        server.context.sql("DROP SCHEMA IF EXISTS nojob_s")
        server.context.drop_table("nojob_src")


def test_local_result_pages(context):
    """A local result pages like a streamed one: with page_size=2 the five
    SHOW COLUMNS rows come as 2 + 2 + 1 in order, the query ends FINISHED
    and its state is evicted."""
    import pandas as pd

    from dask_sql_spark.server.app import run_server

    context.create_table(
        "five_cols", pd.DataFrame({c: [1] for c in ["c1", "c2", "c3", "c4", "c5"]})
    )
    s = run_server(context, host="127.0.0.1", port=0, blocking=False, page_size=2)
    try:
        first = _post(s, "SHOW COLUMNS FROM five_cols")
        payload = _poll(first)
        assert payload["stats"]["state"] == "FINISHED"
        assert payload["pages"] == 3
        assert [r[0] for r in payload["data"]] == ["c1", "c2", "c3", "c4", "c5"]
        assert first["id"] not in s.queries
    finally:
        s.stop()
        context.drop_table("five_cols")


# ----------------------------- CLI ----------------------------- #
def test_cli_meta_commands(context):
    from dask_sql_spark.cmd import run_command

    assert "root" in run_command(context, "\\l")
    assert "df_simple" in run_command(context, "\\dt")
    assert "spark" in run_command(context, "\\conninfo")
    desc = run_command(context, "\\d df_simple")
    assert "a\tbigint" in desc


def test_cli_schema_scoped_meta_commands(context):
    """r8: reference cmd.py:84-96 parity — [schema] arguments on the
    listing commands, \\de for experiments, \\dss to switch schema,
    \\d? as a help alias."""
    import pandas as pd

    from dask_sql_spark.cmd import run_command

    context.sql("CREATE SCHEMA IF NOT EXISTS cli_s")
    try:
        context.create_table("ct", pd.DataFrame({"x": [1]}), schema_name="cli_s")
        assert "ct" in run_command(context, "\\dt cli_s")
        assert "ct" not in run_command(context, "\\dt")
        # scope to the fresh schema: the shared session fixture may carry
        # experiments registered by earlier tests
        assert run_command(context, "\\de cli_s") == ""
        assert "Meta commands" in run_command(context, "\\d?")
        assert "cli_s" in run_command(context, "\\dss cli_s")
        assert context.schema_name == "cli_s"
        assert "ct" in run_command(context, "\\dt")
        assert "not available" in run_command(context, "\\dss ghost")
        assert "fixed" in run_command(context, "\\dsc scheduler:8786")
    finally:
        run_command(context, "\\dss root")
        context.sql("DROP SCHEMA cli_s")


def test_cli_sql(context):
    from dask_sql_spark.cmd import run_command

    out = run_command(context, "SELECT 41 + 1 AS answer")
    assert "42" in out and "answer" in out


def test_cli_quit(context):
    from dask_sql_spark.cmd import run_command

    with pytest.raises(EOFError):
        run_command(context, "\\q")


def test_cli_round10_audit_fixes(context):
    """Round-10 adversarial audit of the REPL parser, pinned:

    - trailing semicolons are stripped BEFORE meta detection (reference
      cmd.py:205) — "\\dt;" and "quit;" used to reach the SQL parser;
    - an unknown backslash command shows the command list instead of a
      cryptic Spark parse error (reference cmd.py:139-142), and bare
      "\\d" (missing table arg) lands there too;
    - bare "\\dss" means the CURRENT schema, a no-op switch (reference
      cmd.py:102), not "Schema  not available".
    """
    from dask_sql_spark.cmd import run_command

    assert "df_simple" in run_command(context, "\\dt;")
    with pytest.raises(EOFError):
        run_command(context, "quit;")
    out = run_command(context, "\\foo")
    assert "not available" in out and "Meta commands" in out
    assert "not available" in run_command(context, "\\d")
    assert run_command(context, "\\dss") == f"schema: {context.schema_name}"


def test_cli_display_is_driver_bounded(context):
    """Round-10 audit: the REPL never collects more than the display cap
    + 1 rows to the driver — a SELECT * over a huge table in the console
    must not OOM the driver to print 50 rows."""
    from dask_sql_spark import cmd as cmd_mod
    from dask_sql_spark.cmd import run_command

    big = context.spark.range(10_000).toDF("n")
    context.create_table("cli_big", big)
    try:
        out = run_command(context, "SELECT n FROM cli_big ORDER BY n")
        assert f"truncated at {cmd_mod._MAX_DISPLAY} rows" in out
        # ORDER BY + limit prefix: the displayed rows are the first ones
        assert " 0" in out.splitlines()[1]
    finally:
        context.drop_table("cli_big")
