"""Layered benchmark of the dask_sql_spark engine.

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 20 --trace 0

Runs one workload, with one client, on a fresh ``local[nproc/2]`` session
and prints, as its last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before it
is a JSON record of the run: machine, versions, scale factor, error rate,
sample counts and calibration times.
See README.md in this directory for the workloads and metrics.

Inputs are generated from the seed inside the checkout; every file the run
writes lives in ``.perfbench_work/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("sql_analytics", "presto_interactive")
SCALE_FACTOR = 0.01
SETUP_RUNS = 3
CALIB_RUNS = 3
# One closed-loop client, and Spark on half the cores (host.spark_cores):
# the machine is shared, and concurrent statements or a core per task left
# every figure depending on what the rest of the host was running.
CLIENTS = 1
# The JVM keeps compiling for about half a minute after the first run of a
# statement: in one run, successive sql_analytics passes took 0.55, 0.46,
# 0.43, 0.38 s a statement. Each run therefore runs its workload untimed
# for this long before it measures.
WARMUP_S = 12
# Seconds one pass (or deck) takes on a 4-CPU host: a run measures as many
# whole ones as fill --seconds at that speed. Counting them against the
# clock instead gave two passes on a slow host and three on a fast one, and
# as later passes run faster (see above), that moved every figure further.
BATCH_S = {"sql_analytics": 7.0, "presto_interactive": 5.0}

END_TO_END = [
    ("setup_s", "s"),
    ("throughput_sps", "1/s"),
    ("latency_p50_s", "s"),
    ("latency_p90_s", "s"),
    ("peak_rss_mb", "MB"),
]


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def latency_summary(statements: list[dict], clients: int) -> dict[str, float]:
    """Throughput and latency quantiles of a closed loop without think time.

    Throughput is, by Little's law, the completed statements over the summed
    latency per client: the client's own bookkeeping between statements
    does not count.
    """
    lat = sorted(st["latency_s"] for st in statements)
    completed = sum(1 for st in statements if "error" not in st or st["error"] == "wrong result")
    return {
        "throughput_sps": completed * clients / sum(lat),
        "latency_p50_s": statistics.median(lat),
        "latency_p90_s": statistics.quantiles(lat, n=10, method="inclusive")[8],
    }


def tally(statements: list[dict]) -> tuple[int, int]:
    """(attempted, failed): a statement fails if it raised or its output
    did not match the oracle."""
    return len(statements), sum(1 for st in statements if not st["ok"])


def result_line(correct: bool, attempted: int, failed: int, values: dict[str, float], spec) -> str:
    """The final stdout line: every metric of ``spec`` by name with its unit."""
    metrics = {name: {"value": float(values[name]), "unit": unit} for name, unit in spec}
    return json.dumps(
        {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    )


class Bench:
    """One run: data, session set-ups, the measured phase, checks, teardown."""

    def __init__(self, args, work: str, import_s: float):
        self.args = args
        self.import_s = import_s
        self.work = work
        self.workload = args.workload
        self.sf = SCALE_FACTOR
        self.cpus = host.cpus()
        self.cores = host.spark_cores()
        self.heap_mb = host.heap_mb()
        self.tracer = layers.Tracer() if args.trace else None
        self.spark = None
        self.ctx = None  # presto: the Context behind the server
        self.base = None  # presto: server URL

    # -------------------------------------------------------------- #
    def conf(self) -> dict[str, str]:
        conf = {
            "spark.driver.memory": f"{self.heap_mb}m",
            "spark.ui.enabled": "true" if self.tracer else "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # scratch files inside the checkout; heap sizing is the JVM's own
            "spark.driver.extraJavaOptions": (
                f"{host.NO_PERF_DATA} -Djava.io.tmpdir={self.work}/tmp "
                f"-Dderby.system.home={self.work}/derby"
            ),
        }
        if self.tracer:
            conf.update({
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "1000000",
                "spark.ui.retainedStages": "1000000",
                "spark.sql.ui.retainedExecutions": "1000000",
            })
        return conf

    def setup(self) -> float:
        """Session start, table registration and warm-up; returns seconds."""
        from dask_sql_spark.context import default_spark_session

        if self.tracer:
            self.tracer.in_setup, self.tracer.register_s = True, 0.0
        t0 = time.perf_counter()
        self.spark = default_spark_session(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            **self.conf(),
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.workload == "presto_interactive":
            from dask_sql_spark import Context

            self.ctx = Context(spark=self.spark)
            for name, path in self.paths.items():
                self.ctx.create_table(name, path)
            self.ctx.create_schema(workloads.WRITE_SCHEMA)
            workloads.register_udf(self.ctx)
            server = self.ctx.run_server(host="localhost", port=0)
            self.base = f"http://localhost:{server.port}"
            warm = workloads.presto_statement(self.base, "SELECT COUNT(*) FROM lineitem")
            if not warm["ok"]:
                raise RuntimeError(f"warm-up statement failed: {warm.get('error')}")
        else:
            # the first statement registers every table (sources layer)
            self.queries[workloads.WARMUP](self.spark, self.data_dir).collect()
        elapsed = time.perf_counter() - t0
        if self.tracer:
            self.tracer.in_setup = False
            self.register_ms.append(self.tracer.register_s * 1e3)
        return elapsed

    def stop_session(self) -> None:
        if self.ctx is not None:
            self.ctx.stop_server()
            self.ctx = None
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def calibrate(self) -> float:
        """Median ms of a fixed Spark statement: the host's speed right now."""
        times = []
        for _ in range(CALIB_RUNS):
            t0 = time.perf_counter()
            self.spark.range(0, 4_000_000, 1, self.cores).selectExpr(
                "sum(id * 7 % 13) AS s"
            ).collect()
            times.append((time.perf_counter() - t0) * 1e3)
        return statistics.median(times)

    # -------------------------------------------------------------- #
    def run(self) -> tuple[dict, str]:
        import __spark_entry__

        args = self.args
        marks = {"start": time.perf_counter()}
        self.data_dir = os.path.join(self.work, "data")
        self.paths = datagen.generate(self.data_dir, args.seed, self.sf)
        self.queries = __spark_entry__.queries()
        self.register_ms: list[float] = []
        if self.tracer:
            self.tracer.install()

        # the first set-up starts the JVM, the others restart the session in it
        setup_runs = []
        for i in range(SETUP_RUNS):
            if i:
                self.stop_session()
            setup_runs.append(self.setup())
        marks["setup"] = time.perf_counter()

        # warm-up, untimed. For sql_analytics it starts with the output
        # check: every statement once, collected and compared with DuckDB.
        if self.workload == "presto_interactive":
            decks = workloads.presto_decks(args.seed, datagen.rows("orders", self.sf))
            workloads.presto_loop(self.base, decks, CLIENTS, seconds=WARMUP_S)
            wrong = {}
        else:
            wrong = workloads.verify_closed_loop(
                self.spark, self.data_dir, self.queries, __spark_entry__.oracle_sql(),
                self.paths, workloads.SQL_ANALYTICS, threads=self.cores,
            )
            workloads.closed_loop(
                self.spark, self.data_dir, self.queries, workloads.SQL_ANALYTICS, args.seed,
                CLIENTS, seconds=WARMUP_S - (time.perf_counter() - marks["setup"]),
            )
        marks["warm"] = time.perf_counter()
        rest = layers.SparkRest(self.spark) if self.tracer else None
        calib = [self.calibrate()]
        if self.tracer:
            self.tracer.sql_calls.clear()

        cache = []
        count = max(1, round(args.seconds / BATCH_S[self.workload]))
        with host.PeakRss() as rss:
            if self.workload == "presto_interactive":
                statements, elapsed, cache = workloads.presto_loop(
                    self.base, decks, CLIENTS, count, rest=rest
                )
            else:
                statements, elapsed, cache = workloads.closed_loop(
                    self.spark, self.data_dir, self.queries, workloads.SQL_ANALYTICS,
                    args.seed, CLIENTS, count, tracer=self.tracer, rest=rest,
                )
        calib.append(self.calibrate())
        marks["measure"] = time.perf_counter()
        sql_calls = list(self.tracer.sql_calls) if self.tracer else []

        # output checks, outside every timed statement
        if self.workload == "presto_interactive":
            tables = sorted(self.paths)
            schemas = ["root", workloads.WRITE_SCHEMA]
            workloads.verify_presto(statements, self.paths, tables, schemas)
        else:
            for st in statements:
                if st["ok"] and st["name"] in wrong:
                    st["ok"], st["error"] = False, "wrong result"

        marks["verify"] = time.perf_counter()
        attempted, failed = tally(statements)
        summary = latency_summary(statements, CLIENTS)
        values = {
            # JVM start is left out: one sample per run, too noisy to bound
            "setup_s": self.import_s + statistics.median(setup_runs[1:]),
            "peak_rss_mb": rss.peak,
            **summary,
        }
        if self.tracer:
            spec = layers.PER_LAYER
            values = self.layer_values(statements, sql_calls, cache, calib, summary, rest)
        else:
            spec = END_TO_END

        errors = sorted({st["error"] for st in statements if "error" in st})
        info = {
            "workload": self.workload,
            "seed": args.seed,
            "trace": args.trace,
            "cpus": self.cpus,
            "spark_cores": self.cores,
            "clients": CLIENTS,
            "heap_mb": self.heap_mb,
            "scale_factor": self.sf,
            "versions": host.versions(),
            "error_rate": failed / attempted,
            "errors": {**wrong, **{f"error{i}": e for i, e in enumerate(errors[:5])}},
            "statements": len(statements),
            "samples_beyond_p90": sum(
                1 for st in statements if st["latency_s"] > summary["latency_p90_s"]
            ),
            "measured_s": round(elapsed, 3),
            "import_s": round(self.import_s, 3),
            "cold_start_s": round(self.import_s + setup_runs[0], 3),
            "setup_runs_s": [round(t, 3) for t in setup_runs],
            "calib_ms": {"start": round(calib[0], 2), "end": round(calib[1], 2)},
            "p50_by_kind_s": self.p50_by_kind(statements),
        }
        if self.tracer:
            marks["trace"] = time.perf_counter()
        info["phase_s"] = {
            k: round(t - prev, 2)
            for (k, t), prev in zip(list(marks.items())[1:], list(marks.values()))
        }
        line = result_line(failed == 0, attempted, failed, values, spec)
        return info, line

    @staticmethod
    def p50_by_kind(statements: list[dict]) -> dict[str, float]:
        kinds: dict[str, list[float]] = {}
        for st in statements:
            kinds.setdefault(st.get("kind") or st["name"], []).append(st["latency_s"])
        return {k: round(statistics.median(v), 4) for k, v in sorted(kinds.items())}

    def layer_values(self, statements, sql_calls, cache, calib, summary, rest) -> dict:
        # Catalyst phases are read on presto only, where the server runs each
        # statement through the query execution of the frame Context.sql
        # returned. A noop write plans a query execution of its own, so on
        # sql_analytics reading them would time an extra planning instead.
        phases = []
        if self.workload == "presto_interactive":
            phases = [layers.Tracer.catalyst_phases(c["df"]) for c in sql_calls]
        figures = layers.exec_figures(rest.snapshot(), statements)
        return layers.layer_metrics(
            statements, figures, sql_calls, phases, self.register_ms, cache,
            calib_ms=statistics.fmean(calib),
            latency_p50_s=summary["latency_p50_s"],
            throughput_sps=summary["throughput_sps"],
        )

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for every child to end."""
        from pyspark import SparkContext

        self.stop_session()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        children = host.descendants(os.getpid())
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        for pid in children:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                os.kill(pid, 9)


def import_program() -> float | None:
    """Import the program and return the seconds it took, or None if it is
    not importable here. Called before the benchmark's own modules load the
    libraries they share with it (pandas, pyarrow), so the time is the
    program's whole import."""
    t0 = time.perf_counter()
    try:
        import __spark_entry__  # noqa: F401
        import dask_sql_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable here: {e}", file=sys.stderr)
        return None
    return time.perf_counter() - t0


def main(import_s: float, argv=None) -> int:
    args = parse_args(argv)
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # every scratch file of Python, Spark and its workers stays in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LAUNCHER_OPTS"] = host.NO_PERF_DATA
    bench = Bench(args, work, import_s)
    try:
        info, line = bench.run()
    finally:
        bench.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:  # another run still uses it
            pass
    print(json.dumps(info))
    print(line)
    return 0


sys.path[:0] = [HERE, ROOT]
if __name__ == "__main__":
    IMPORT_S = import_program()
    if IMPORT_S is None:
        sys.exit(2)
import datagen  # noqa: E402
import host  # noqa: E402
import layers  # noqa: E402
import workloads  # noqa: E402

if __name__ == "__main__":
    sys.exit(main(IMPORT_S))
