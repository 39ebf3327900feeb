"""Layered per-query measurement: one JSON record per query with its wall
time, plan-build time and py4j round trips, Catalyst phase times, the
Janino compilations, jobs, stages, task time and shuffle bytes its timed
passes ran.

Usage: SPARK_GRAFT_SF_DIR=<dir of the sf tables> python tools/measure.py
           [-n 5] [--plans DIR] [name ...]
No names: every bench.HEADLINE query. ``--plans DIR`` also writes each
query's formatted physical plan to DIR/<name>.txt, with the counters that
differ between two runs of the same code masked, so two captures diff clean.
Env: SPARK_GRAFT_SF_DIR (required, the tables bench.py reads),
     SPARK_GRAFT_CPUS (default: the machine's core count),
     SPARK_GRAFT_DRIVER_MEM (default 16g).

Per query: one untimed warm pass, then ``-n`` timed passes. A pass is
timed as bench.py times it: build plus a noop write, ``clearCache`` after.
Each query is warmed and timed alone, so its passes reuse the generated
classes its own warm pass compiled: what a query loses when other queries
evict its classes from Spark's shared codegen cache shows only in bench.py
and perfbench, which run many queries per pass.
Record fields:
  wall_s, wall_min_s   seconds of each timed pass, and their min
  build_s              min over the timed passes of the plan-build seconds
  build_py4j           py4j commands the building thread sends in one more,
                       untimed build (py4j's finalizer thread is not counted)
  analysis_ms, optimization_ms, planning_ms
                       Catalyst phases of that build's query execution
  codegen_compiles     Janino compilations per timed pass (Spark's
                       CodegenMetrics compilation-time histogram count)
  jobs, stages, tasks, task_ms, shuffle_read_bytes, shuffle_write_bytes
                       per timed pass, from the Spark status REST API
  slowest_stages       the five stages of the timed passes with the most
                       executor run time
"""

from __future__ import annotations

import argparse
import cProfile
import json
import os
import pstats
import re
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.layers import SparkRest, Tracer  # noqa: E402

# expression ids, plan ids, RDD ids and the suffixes of Python-built lambda
# variables (x_12) count up per JVM, so they depend on what ran earlier
_RUN_COUNTERS = re.compile(r"(#|plan_id=|RDD\[|lambda [a-z]+_)\d+")


def _py4j_sends(build):
    """(result, py4j commands sent by this thread) of ``build()``."""
    prof = cProfile.Profile()
    prof.enable()
    try:
        result = build()
    finally:
        prof.disable()
    sends = sum(
        stat[1]
        for (path, _, fn), stat in pstats.Stats(prof).stats.items()
        if fn == "send_command" and "java_gateway" in path
    )
    return result, sends


def _new_stages(rest: SparkRest, job0: int, stage0: int):
    """Jobs and run (not skipped) stages started after ids job0 / stage0."""
    rest.settle()
    jobs = [j for j in rest.get("/jobs") if j["jobId"] > job0]
    stages: dict[int, dict] = {}
    for s in rest.get("/stages"):
        if s["stageId"] > stage0 and s.get("status") != "SKIPPED":
            prev = stages.get(s["stageId"])
            if prev is None or s["attemptId"] > prev["attemptId"]:
                stages[s["stageId"]] = s
    return jobs, list(stages.values())


def codegen_compiles(spark) -> int:
    """Janino compilations in this JVM so far: the count of Spark's
    compile-time histogram, which every compilation adds one sample to."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return codegen.METRIC_COMPILATION_TIME().getCount()


def _last_ids(rest: SparkRest) -> tuple[int, int]:
    rest.settle()
    job0 = max((j["jobId"] for j in rest.get("/jobs")), default=-1)
    stage0 = max((s["stageId"] for s in rest.get("/stages")), default=-1)
    return job0, stage0


def measure(spark, names, sf_dir: str, n: int = 5, plans_dir: str | None = None):
    """Yield one layered record per query name (see the module docstring)."""
    import __spark_entry__ as entrymod

    if n < 1:
        raise ValueError(f"need at least one timed pass, got n={n}")
    qs = entrymod.queries()
    rest = SparkRest(spark)
    cpus = spark.sparkContext.defaultParallelism
    if plans_dir:
        os.makedirs(plans_dir, exist_ok=True)
    for name in names:
        query = qs[name]
        walls, builds = [], []
        for i in range(n + 1):  # pass 0 is the untimed warm pass
            if i == 1:
                job0, stage0 = _last_ids(rest)
                compiles0 = codegen_compiles(spark)
            t0 = time.time()
            df = query(spark, sf_dir)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            dt = round(time.time() - t0, 3)
            spark.catalog.clearCache()
            if i:
                walls.append(dt)
                builds.append(t1 - t0)
        compiles = codegen_compiles(spark) - compiles0
        jobs, stages = _new_stages(rest, job0, stage0)
        df, build_py4j = _py4j_sends(lambda: query(spark, sf_dir))
        phases = Tracer.catalyst_phases(df)
        if plans_dir:
            plan = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(plans_dir, f"{name}.txt"), "w") as f:
                f.write(_RUN_COUNTERS.sub(r"\1", plan))
        spark.catalog.clearCache()

        def per_pass(key):
            return sum(s.get(key, 0) for s in stages) / n

        stages.sort(key=lambda s: -s.get("executorRunTime", 0))
        yield {
            "name": name,
            "cpus": cpus,
            "wall_s": walls,
            "wall_min_s": min(walls),
            "build_s": round(min(builds), 4),
            "build_py4j": build_py4j,
            **{f"{k}_ms": v for k, v in phases.items()},
            "codegen_compiles": compiles / n,
            "jobs": len(jobs) / n,
            "stages": len(stages) / n,
            "tasks": per_pass("numCompleteTasks"),
            "task_ms": per_pass("executorRunTime"),
            "shuffle_read_bytes": per_pass("shuffleReadBytes"),
            "shuffle_write_bytes": per_pass("shuffleWriteBytes"),
            "slowest_stages": [
                {
                    "stage": s["stageId"],
                    "name": (s.get("name") or "")[:40],
                    "tasks": s.get("numCompleteTasks", 0),
                    "run_ms": s.get("executorRunTime", 0),
                    "shuffle_read_bytes": s.get("shuffleReadBytes", 0),
                    "shuffle_write_bytes": s.get("shuffleWriteBytes", 0),
                }
                for s in stages[:5]
            ],
        }


def main() -> None:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("-n", type=int, default=5, help="timed passes per query")
    ap.add_argument("--plans", metavar="DIR", help="write masked plans here")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        sys.exit(__doc__)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")

    from bench import HEADLINE
    from dask_sql_spark.context import default_spark_session

    spark = default_spark_session(
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        **{
            "spark.driver.memory": mem,
            "spark.cleaner.periodicGC.interval": "60s",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()  # warm pool
    for rec in measure(spark, args.names or HEADLINE, sf_dir, args.n, args.plans):
        print(json.dumps(rec), flush=True)


if __name__ == "__main__":
    main()
