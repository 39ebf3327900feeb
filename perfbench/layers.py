"""Per-layer tracing, measured from outside the program.

Only a traced run (``--trace 1``) creates a :class:`Tracer`. It wraps public
entry points of the program's modules to time and count the calls the
benchmark makes into each layer, and reads Spark's own status REST API
after the measured phase for job, stage, SQL-node and storage figures:

- ``sources``: ``Context.create_table`` during set-up;
- ``dialect``: ``dialect.rewrite``;
- ``context``: ``Context.sql``, outermost call only, until it returns;
- ``plans``: ``plans.statements.maybe_handle_custom_statement``;
- py4j round trips, counted per thread on the two py4j connection classes.

Nothing here changes what the program computes; an untraced run installs
none of it.
"""

from __future__ import annotations

import datetime
import json
import re
import statistics
import threading
import time
import urllib.request
from collections import defaultdict

# per-layer metric names and units, in the order they are printed
PER_LAYER = [
    ("sources.register_ms", "ms"),
    ("dialect.rewrite_ms", "ms"),
    ("context.sql_ms", "ms"),
    ("context.py4j_calls", "count"),
    ("plans.dispatch_ms", "ms"),
    ("plans.handled", "count"),
    ("operators.build_ms", "ms"),
    ("operators.build_py4j_calls", "count"),
    ("operators.build_py4j_calls_iqr", "count"),
    ("operators.build_jobs", "count"),
    ("catalyst.analysis_ms", "ms"),
    ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("exec.task_run_ms", "ms"),
    ("exec.task_cpu_ms", "ms"),
    ("exec.gc_ms", "ms"),
    ("exec.input_bytes", "bytes"),
    ("exec.shuffle_read_bytes", "bytes"),
    ("exec.shuffle_write_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.driver_gap_ms", "ms"),
    ("pyworker.bytes_to_python", "bytes"),
    ("pyworker.bytes_from_python", "bytes"),
    ("pyworker.rows", "count"),
    ("server.submit_ms", "ms"),
    ("server.first_page_ms", "ms"),
    ("server.polls_per_stmt", "count"),
    ("server.page_jobs", "count"),
    ("server.response_bytes", "bytes"),
    ("cache.mem_bytes", "bytes"),
    ("host.calib_ms", "ms"),
    ("trace.latency_p50_s", "s"),
    ("trace.throughput_sps", "1/s"),
]

# Spark SQL plan nodes that move rows to and from Python workers
_PY_NODE = re.compile(r"Python|Pandas|Arrow")
_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)?")
_UNITS = {None: 1, "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _mean(xs) -> float:
    xs = list(xs)
    return float(statistics.fmean(xs)) if xs else 0.0


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _iqr(xs) -> float:
    xs = list(xs)
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    return float(q[2] - q[0])


def metric_value(text: str) -> float:
    """First number of a Spark SQL metric string, sizes scaled to bytes.

    Task-level metrics read ``total (min, med, max ...)\\n12.3 KiB (...)``;
    driver-level ones are a bare number such as ``1,234``.
    """
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _SIZE.search(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def _epoch(ts: str | None) -> float | None:
    """Spark REST timestamps look like ``2026-01-01T10:00:00.123GMT``."""
    if not ts:
        return None
    t = datetime.datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=datetime.timezone.utc).timestamp()


def busy_seconds(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    def __init__(self):
        self._tls = threading.local()
        self._lock = threading.Lock()
        self.in_setup = False
        self.register_s = 0.0  # create_table time of the current set-up
        self.sql_calls: list[dict] = []  # one per outermost Context.sql

    # -------------------------------------------------------------- #
    # wrappers                                                       #
    # -------------------------------------------------------------- #
    def _state(self):
        st = self._tls
        if not hasattr(st, "py4j"):
            st.py4j = 0
            st.depth = 0
            st.dialect_s = 0.0
            st.plans_s = 0.0
            st.handled = False
        return st

    def py4j_calls(self) -> int:
        return self._state().py4j

    @staticmethod
    def _patch(owner, name, make):
        setattr(owner, name, make(getattr(owner, name)))

    def install(self) -> None:
        import py4j.clientserver
        import py4j.java_gateway

        from dask_sql_spark import context as ctx_mod
        from dask_sql_spark import dialect

        tracer = self

        def count_py4j(orig):
            def send_command(conn, *args, **kwargs):
                tracer._state().py4j += 1
                return orig(conn, *args, **kwargs)

            return send_command

        for cls in (
            py4j.clientserver.ClientServerConnection,
            py4j.java_gateway.GatewayConnection,
        ):
            self._patch(cls, "send_command", count_py4j)

        def time_register(orig):
            def create_table(ctx, *args, **kwargs):
                t0 = time.perf_counter()
                try:
                    return orig(ctx, *args, **kwargs)
                finally:
                    if tracer.in_setup:
                        tracer.register_s += time.perf_counter() - t0

            return create_table

        self._patch(ctx_mod.Context, "create_table", time_register)

        def time_rewrite(orig):
            def rewrite(*args, **kwargs):
                st = tracer._state()
                t0 = time.perf_counter()
                result = orig(*args, **kwargs)
                st.dialect_s += time.perf_counter() - t0
                return result

            return rewrite

        self._patch(dialect, "rewrite", time_rewrite)

        def time_dispatch(orig):
            def dispatch(*args, **kwargs):
                st = tracer._state()
                t0 = time.perf_counter()
                result = orig(*args, **kwargs)
                st.plans_s += time.perf_counter() - t0
                if st.depth == 1:
                    st.handled = result is not None
                return result

            return dispatch

        # context.py binds the dispatcher by name at import
        self._patch(ctx_mod, "maybe_handle_custom_statement", time_dispatch)

        def time_sql(orig):
            def sql(ctx, query, *args, **kwargs):
                st = tracer._state()
                st.depth += 1
                if st.depth > 1:
                    try:
                        return orig(ctx, query, *args, **kwargs)
                    finally:
                        st.depth -= 1
                n0, d0, p0 = st.py4j, st.dialect_s, st.plans_s
                st.handled = False
                t0 = time.perf_counter()
                try:
                    df = orig(ctx, query, *args, **kwargs)
                finally:
                    st.depth -= 1
                rec = {
                    "ms": (time.perf_counter() - t0) * 1e3,
                    "py4j": st.py4j - n0,
                    "dialect_ms": (st.dialect_s - d0) * 1e3,
                    "plans_ms": (st.plans_s - p0) * 1e3,
                    "handled": st.handled,
                    "df": df,
                }
                with tracer._lock:
                    tracer.sql_calls.append(rec)
                return df

            return sql

        self._patch(ctx_mod.Context, "sql", time_sql)

    # -------------------------------------------------------------- #
    # Spark-side figures                                             #
    # -------------------------------------------------------------- #
    @staticmethod
    def catalyst_phases(df) -> dict[str, float]:
        """Catalyst phase times of ``df``'s own query execution: the one an
        action on ``df`` itself used, or planned here if none ran."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        return out


class SparkRest:
    """Reader for the status REST API of the running application."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def storage_bytes(self) -> int:
        return sum(int(r.get("memoryUsed", 0)) for r in self.get("/storage/rdd"))

    def settle(self, timeout: float = 10.0) -> None:
        """Wait until the status store has seen every job end."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if not any(j["status"] == "RUNNING" for j in self.get("/jobs")):
                return
            time.sleep(0.1)

    def snapshot(self) -> dict:
        self.settle()
        jobs = self.get("/jobs")
        stages: dict[int, dict] = {}
        for s in self.get("/stages"):
            prev = stages.get(s["stageId"])
            if prev is None or s["attemptId"] > prev["attemptId"]:
                stages[s["stageId"]] = s
        sql = self.get("/sql?details=true&planDescription=false&offset=0&length=1000000")
        return {"jobs": jobs, "stages": stages, "sql": sql}


def exec_figures(snap: dict, statements: list[dict]) -> dict[int, dict]:
    """Per statement (by index): work and orchestration figures of its jobs.

    Each statement names its job groups: ``build_group`` (jobs started
    eagerly inside the build call) and ``exec_group`` (the action).
    """
    by_group = defaultdict(list)
    for j in snap["jobs"]:
        if j.get("jobGroup"):
            by_group[j["jobGroup"]].append(j)
    job_owner = {}
    for i, st in enumerate(statements):
        for g in (st.get("build_group"), st.get("exec_group")):
            for j in by_group.get(g, ()):
                job_owner[j["jobId"]] = i
    py = defaultdict(lambda: [0.0, 0.0, 0.0])
    for ex in snap["sql"]:
        ids = ex.get("successJobIds", []) + ex.get("failedJobIds", []) + ex.get("runningJobIds", [])
        owners = {job_owner[j] for j in ids if j in job_owner}
        if len(owners) != 1:
            continue
        acc = py[owners.pop()]
        for node in ex.get("nodes", []):
            if not _PY_NODE.search(node.get("nodeName", "")):
                continue
            for m in node.get("metrics", []):
                name = m.get("name", "")
                if name == "data sent to Python workers":
                    acc[0] += metric_value(m["value"])
                elif name == "data returned from Python workers":
                    acc[1] += metric_value(m["value"])
                elif name == "number of output rows":
                    acc[2] += metric_value(m["value"])
    out = {}
    for i, st in enumerate(statements):
        build_jobs = by_group.get(st.get("build_group"), [])
        exec_jobs = by_group.get(st.get("exec_group"), [])
        run_stages = []
        intervals = []
        for jobs, is_exec in ((build_jobs, False), (exec_jobs, True)):
            for j in jobs:
                for sid in j.get("stageIds", []):
                    s = snap["stages"].get(sid)
                    if s is None or s.get("status") in ("SKIPPED", "PENDING"):
                        continue
                    a, b = _epoch(s.get("submissionTime")), _epoch(s.get("completionTime"))
                    if a is not None and b is not None:
                        intervals.append((a, b))
                    if is_exec:
                        run_stages.append(s)
        run_stages = list({s["stageId"]: s for s in run_stages}.values())
        wall = st["wall_end"] - st["wall_start"]
        gap = wall - busy_seconds(intervals, st["wall_start"], st["wall_end"])
        out[i] = {
            "build_jobs": len(build_jobs),
            "jobs": len(exec_jobs),
            "page_jobs": sum(1 for j in exec_jobs if j.get("description") == "presto page pull"),
            "stages": len(run_stages),
            "tasks": sum(s.get("numTasks", 0) for s in run_stages),
            "task_run_ms": sum(s.get("executorRunTime", 0) for s in run_stages),
            "task_cpu_ms": sum(s.get("executorCpuTime", 0) for s in run_stages) / 1e6,
            "gc_ms": sum(s.get("jvmGcTime", 0) for s in run_stages),
            "input_bytes": sum(s.get("inputBytes", 0) for s in run_stages),
            "shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in run_stages),
            "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in run_stages),
            "spill_bytes": sum(
                s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in run_stages
            ),
            "driver_gap_ms": max(gap, 0.0) * 1e3,
            "py_to": py[i][0],
            "py_from": py[i][1],
            "py_rows": py[i][2],
        }
    return out


def layer_metrics(
    statements: list[dict],
    figures: dict[int, dict],
    sql_calls: list[dict],
    phases: list[dict],
    register_ms: list[float],
    cache_samples: list[int],
    calib_ms: float,
    latency_p50_s: float,
    throughput_sps: float,
) -> dict[str, float]:
    """Aggregate the traced run into the PER_LAYER metrics.

    Times and counts are means per statement unless the name says
    otherwise; a layer the workload never reaches reads 0.
    """
    n = max(len(statements), 1)
    fig = list(figures.values())
    built = [s for s in statements if "build_ms" in s]
    polled = [s for s in statements if "polls" in s]

    def per_stmt(key):
        return sum(f[key] for f in fig) / n

    return {
        "sources.register_ms": _median(register_ms),
        "dialect.rewrite_ms": _mean(c["dialect_ms"] for c in sql_calls),
        "context.sql_ms": _mean(c["ms"] for c in sql_calls),
        "context.py4j_calls": _median(c["py4j"] for c in sql_calls),
        "plans.dispatch_ms": _mean(c["plans_ms"] for c in sql_calls),
        "plans.handled": sum(c["handled"] for c in sql_calls) / n,
        "operators.build_ms": _mean(s["build_ms"] for s in built),
        "operators.build_py4j_calls": _median(s["build_py4j"] for s in built),
        "operators.build_py4j_calls_iqr": _iqr(s["build_py4j"] for s in built),
        "operators.build_jobs": _mean(f["build_jobs"] for f in fig) if built else 0.0,
        "catalyst.analysis_ms": _mean(p["analysis"] for p in phases),
        "catalyst.optimization_ms": _mean(p["optimization"] for p in phases),
        "catalyst.planning_ms": _mean(p["planning"] for p in phases),
        "exec.task_run_ms": per_stmt("task_run_ms"),
        "exec.task_cpu_ms": per_stmt("task_cpu_ms"),
        "exec.gc_ms": per_stmt("gc_ms"),
        "exec.input_bytes": per_stmt("input_bytes"),
        "exec.shuffle_read_bytes": per_stmt("shuffle_read_bytes"),
        "exec.shuffle_write_bytes": per_stmt("shuffle_write_bytes"),
        "exec.spill_bytes": per_stmt("spill_bytes"),
        "exec.jobs": per_stmt("jobs"),
        "exec.stages": per_stmt("stages"),
        "exec.tasks": per_stmt("tasks"),
        "exec.driver_gap_ms": per_stmt("driver_gap_ms"),
        "pyworker.bytes_to_python": per_stmt("py_to"),
        "pyworker.bytes_from_python": per_stmt("py_from"),
        "pyworker.rows": per_stmt("py_rows"),
        "server.submit_ms": _median(s["submit_ms"] for s in polled),
        "server.first_page_ms": _median(s["first_page_ms"] for s in polled),
        "server.polls_per_stmt": _mean(s["polls"] for s in polled),
        "server.page_jobs": per_stmt("page_jobs") if polled else 0.0,
        "server.response_bytes": _mean(s["response_bytes"] for s in polled),
        "cache.mem_bytes": _mean(cache_samples),
        "host.calib_ms": calib_ms,
        "trace.latency_p50_s": latency_p50_s,
        "trace.throughput_sps": throughput_sps,
    }
