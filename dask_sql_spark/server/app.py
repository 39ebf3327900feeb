"""Presto wire-protocol HTTP server.

Parity target: the reference's FastAPI app (server/app.py:19-280,
server/responses.py:1-149): ``POST /v1/statement`` executes SQL and
returns Presto-format JSON; async queries poll ``GET /v1/status/{uuid}``
and cancel via ``DELETE /v1/cancel/{uuid}``; a JDBC shim answers the
``system.jdbc`` metadata queries.

FastAPI is not available in this environment, so the app is built on the
stdlib ``ThreadingHTTPServer`` — same endpoints, same response shapes, no
third-party dependency. Queries execute on a thread pool. Results are
PAGED (reference behavior: server/app.py:40-66 + responses.py): each
``GET /v1/status/{uuid}`` returns up to ``page_size`` rows plus a
``nextUri`` while more remain.

Where the rows come from depends on the result frame. A local result
(``df.isLocal()``: a ``LocalRelation`` such as the DDL, SHOW and JDBC
metadata answers built by ``context.local_frame``, or a Spark command
result) is read with ``collect()``, which starts no Spark job. That
collects rows the driver already holds: for the statement results built
by ``local_frame`` these are a few rows, and Spark turns an Arrow table
above ``spark.sql.execution.arrow.localRelationThreshold`` into a
distributed relation, which streams. Every other result streams via
``toLocalIterator``, so the driver never materializes the full result set
of a distributed query. Either way pages are pulled through the same
iterator. Every Spark job a query triggers runs under a job group named
by the query id, so DELETE
/v1/cancel/{uuid} interrupts running stages via ``cancelJobGroup`` (not
just a flag). Finished/failed/canceled query states are evicted after
their final status poll (plus a TTL sweep), so ``queries`` stays bounded.
"""

from __future__ import annotations

import itertools
import json
import math
import threading
import time
import uuid as uuidlib
from concurrent.futures import Future, ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import TYPE_CHECKING, Any

from pyspark.sql import types as T

if TYPE_CHECKING:
    from dask_sql_spark.context import Context

# Spark type → Presto type name (reference responses.py type mapping)
_PRESTO_TYPES = {
    T.StringType(): "varchar",
    T.LongType(): "bigint",
    T.IntegerType(): "integer",
    T.ShortType(): "smallint",
    T.ByteType(): "tinyint",
    T.DoubleType(): "double",
    T.FloatType(): "real",
    T.BooleanType(): "boolean",
    T.DateType(): "date",
    T.TimestampType(): "timestamp",
    T.BinaryType(): "varbinary",
}


def presto_type(dt: T.DataType) -> str:
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision},{dt.scale})"
    if isinstance(dt, T.ArrayType):
        return f"array({presto_type(dt.elementType)})"
    if isinstance(dt, T.MapType):
        return f"map({presto_type(dt.keyType)},{presto_type(dt.valueType)})"
    if isinstance(dt, T.StructType):
        inner = ",".join(
            f"{f.name} {presto_type(f.dataType)}" for f in dt.fields
        )
        return f"row({inner})"
    return _PRESTO_TYPES.get(dt, "varchar")


def _columns_payload(schema: T.StructType) -> list[dict[str, Any]]:
    return [
        {
            "name": f.name,
            "type": presto_type(f.dataType),
            "typeSignature": {
                "rawType": presto_type(f.dataType).split("(")[0],
                "arguments": [],
            },
        }
        for f in schema.fields
    ]


def _json_value(v: Any) -> Any:
    """JSON-encodable form of one result value. Recurses through arrays,
    maps, and Rows (structs) — the r9 wire audit found a temporal inside
    a collect_list / named_struct crashed the handler connection. NaN and
    ±inf become the strings "NaN"/"Infinity"/"-Infinity" (Presto's JSON
    encoding): bare NaN/Infinity tokens are not JSON (RFC 8259)."""
    import datetime
    import decimal

    from pyspark.sql import Row

    if isinstance(v, Row):
        return {k: _json_value(x) for k, x in v.asDict().items()}
    if isinstance(v, dict):
        return {str(k): _json_value(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_json_value(x) for x in v]
    if isinstance(v, (datetime.datetime, datetime.date)):
        return str(v)
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, bytearray):
        return bytes(v).hex()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, float) and not math.isfinite(v):
        return "NaN" if math.isnan(v) else ("Infinity" if v > 0 else "-Infinity")
    return v


class _QueryState:
    def __init__(self, future: Future | None = None):
        self.future = future
        self.cancelled = False
        self.columns: list[dict] | None = None
        self.row_iter: Any = None  # over collect() or toLocalIterator()
        self.page: list | None = None  # next page, pre-pulled
        self.created = time.monotonic()
        self.finished_at: float | None = None  # set once terminal state polled
        self.lock = threading.Lock()  # serializes page pulls per query


class SQLServer:
    """HTTP server speaking the Presto protocol over a Context."""

    # finished states evicted after final poll; this TTL sweeps states the
    # client abandoned without polling to completion
    STATE_TTL_SECONDS = 300.0
    MAX_QUERY_STATES = 256

    def __init__(
        self,
        context: "Context",
        host: str = "localhost",
        port: int = 8080,
        page_size: int = 1000,
    ):
        self.context = context
        self.host = host
        self.port = port
        self.page_size = page_size
        self.pool = ThreadPoolExecutor(max_workers=8)
        self.queries: dict[str, _QueryState] = {}
        self._queries_lock = threading.Lock()
        self._httpd: ThreadingHTTPServer | None = None

    # ------------------------------------------------------------ #
    def _pull_page(self, qid: str, it: Any) -> list:
        """Pull up to page_size rows; runs on a pool thread with the query's
        job group set so any Spark jobs the pull triggers are cancellable."""
        sc = self.context.spark.sparkContext
        sc.setJobGroup(qid, "presto page pull", interruptOnCancel=True)
        try:
            return list(itertools.islice(it, self.page_size))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def _execute(self, qid: str, sql: str) -> None:
        """Plan the query and pre-pull the first page (the heavy compute)
        under the query's job group. A local result (``df.isLocal()``) is
        collected: that starts no Spark job, and its rows already sit on the
        driver. Every other result streams via toLocalIterator, so the
        driver holds at most one page plus Spark's partition buffer."""
        from dask_sql_spark.server.presto_jdbc import maybe_jdbc_query

        state = self.queries[qid]
        sc = self.context.spark.sparkContext
        sc.setJobGroup(qid, sql[:200], interruptOnCancel=True)
        try:
            jdbc = maybe_jdbc_query(self.context, sql)
            df = jdbc if jdbc is not None else self.context.sql(sql)
            state.columns = _columns_payload(df.schema)
            rows = df.collect() if df.isLocal() else df.toLocalIterator()
            state.row_iter = iter(rows)
            state.page = list(itertools.islice(state.row_iter, self.page_size))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def submit(self, sql: str) -> str:
        self._sweep()
        qid = str(uuidlib.uuid4())
        state = _QueryState()
        with self._queries_lock:
            self.queries[qid] = state
        state.future = self.pool.submit(self._execute, qid, sql)
        return qid

    def _sweep(self) -> None:
        """Evict abandoned states (TTL) and cap the registry size (oldest
        finished first, then oldest overall)."""
        now = time.monotonic()
        with self._queries_lock:
            for qid, st in list(self.queries.items()):
                if st.finished_at is not None:
                    if now - st.finished_at >= 1.0:  # grace for in-flight poll
                        self.queries.pop(qid, None)
                elif now - st.created > self.STATE_TTL_SECONDS:
                    self.queries.pop(qid, None)
            while len(self.queries) > self.MAX_QUERY_STATES:
                self.queries.pop(next(iter(self.queries)), None)

    def _evict(self, qid: str) -> None:
        with self._queries_lock:
            self.queries.pop(qid, None)

    def status_payload(self, qid: str, base_url: str) -> tuple[int, dict]:
        state = self.queries.get(qid)
        if state is None:
            return 404, {"error": {"message": f"unknown query {qid}"}}
        payload: dict[str, Any] = {
            "id": qid,
            "infoUri": f"{base_url}/v1/status/{qid}",
        }
        if state.cancelled:
            payload["stats"] = {"state": "CANCELED"}
            state.finished_at = time.monotonic()
            self._evict(qid)
            return 200, payload
        if not state.future.done():
            payload["nextUri"] = f"{base_url}/v1/status/{qid}"
            payload["stats"] = {"state": "RUNNING"}
            return 200, payload
        exc = state.future.exception()
        if exc is not None:
            payload["error"] = {
                "message": str(exc),
                "errorType": type(exc).__name__,
            }
            payload["stats"] = {"state": "FAILED"}
            state.finished_at = time.monotonic()
            self._evict(qid)
            return 200, payload
        with state.lock:
            page = state.page if state.page is not None else []
            # pre-pull the NEXT page (on a pool thread, under the job
            # group) to learn whether this one is the last
            try:
                state.page = self.pool.submit(
                    self._pull_page, qid, state.row_iter
                ).result()
            except Exception as e:  # cancelled mid-iteration
                if state.cancelled:
                    payload["stats"] = {"state": "CANCELED"}
                    state.finished_at = time.monotonic()
                    self._evict(qid)
                    return 200, payload
                payload["error"] = {"message": str(e), "errorType": type(e).__name__}
                payload["stats"] = {"state": "FAILED"}
                state.finished_at = time.monotonic()
                self._evict(qid)
                return 200, payload
            payload["columns"] = state.columns
            payload["data"] = [[_json_value(v) for v in row] for row in page]
            if state.page:
                payload["nextUri"] = f"{base_url}/v1/status/{qid}"
                payload["stats"] = {"state": "RUNNING"}
            else:
                payload["stats"] = {"state": "FINISHED"}
                state.finished_at = time.monotonic()
                self._evict(qid)
        return 200, payload

    def cancel(self, qid: str) -> bool:
        state = self.queries.get(qid)
        if state is None:
            return False
        state.cancelled = True
        state.future.cancel()
        # interrupt running stages — future.cancel() cannot stop a task
        # that already started; the job group can
        try:
            self.context.spark.sparkContext.cancelJobGroup(qid)
        except Exception:
            pass
        return True

    # ------------------------------------------------------------ #
    def _make_handler(server: "SQLServer"):
        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # quiet
                pass

            def _reply(self, code: int, payload: dict) -> None:
                # default=str: never drop the connection over an exotic
                # value type — stringify is the Presto-JSON fallback
                body = json.dumps(payload, default=str).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            @property
            def _base(self) -> str:
                return f"http://{self.headers.get('Host', f'{server.host}:{server.port}')}"

            def do_POST(self):
                if self.path.rstrip("/") != "/v1/statement":
                    return self._reply(404, {"error": {"message": "not found"}})
                length = int(self.headers.get("Content-Length", 0))
                try:
                    sql = self.rfile.read(length).decode("utf-8")
                except UnicodeDecodeError:
                    # malformed body must get a JSON 400, not a dropped
                    # connection (r9 wire audit)
                    return self._reply(
                        400, {"error": {"message": "statement is not UTF-8"}}
                    )
                if not sql.strip():
                    return self._reply(
                        400, {"error": {"message": "empty statement"}}
                    )
                qid = server.submit(sql)
                # mirror the reference: return a pollable handle immediately
                self._reply(
                    200,
                    {
                        "id": qid,
                        "infoUri": f"{self._base}/v1/status/{qid}",
                        "nextUri": f"{self._base}/v1/status/{qid}",
                        "stats": {"state": "QUEUED"},
                    },
                )

            def do_GET(self):
                if self.path.startswith("/v1/status/"):
                    qid = self.path.rsplit("/", 1)[-1]
                    code, payload = server.status_payload(qid, self._base)
                    return self._reply(code, payload)
                if self.path.rstrip("/") == "/v1/empty":
                    return self._reply(200, {})
                self._reply(404, {"error": {"message": "not found"}})

            def do_DELETE(self):
                if self.path.startswith("/v1/cancel/"):
                    ok = server.cancel(self.path.rsplit("/", 1)[-1])
                    return self._reply(200 if ok else 404, {})
                self._reply(404, {"error": {"message": "not found"}})

        return Handler

    # ------------------------------------------------------------ #
    def start(self) -> None:
        self._httpd = ThreadingHTTPServer(
            (self.host, self.port), self._make_handler()
        )
        self.port = self._httpd.server_address[1]
        thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        thread.start()

    def stop(self) -> None:
        if self._httpd:
            self._httpd.shutdown()
            self._httpd.server_close()
        self.pool.shutdown(wait=False)


def run_server(
    context: "Context | None" = None,
    host: str = "localhost",
    port: int = 8080,
    blocking: bool = True,
    page_size: int = 1000,
) -> SQLServer:
    """Start the Presto-protocol server (reference run_server,
    server/app.py). With ``blocking=False`` returns the running server."""
    if context is None:
        from dask_sql_spark.context import Context

        context = Context()
    server = SQLServer(context, host, port, page_size=page_size)
    server.start()
    if blocking:  # pragma: no cover
        try:
            threading.Event().wait()
        except KeyboardInterrupt:
            server.stop()
    return server
