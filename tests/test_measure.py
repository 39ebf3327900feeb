"""tools/measure.py: one layered record per query, and plan captures that
do not depend on what ran earlier in the process."""

import re

from tests.conftest import SF_DIR
from tools.measure import measure

SQL_Q = "q6_forecast_revenue"  # a _sqlq query
OP_Q = "dedup_minhash_lsh"  # a _dfq operator with Python-built lambdas

LAYERS = {
    "name", "cpus", "wall_s", "wall_min_s", "build_s", "build_py4j",
    "analysis_ms", "optimization_ms", "planning_ms", "codegen_compiles",
    "jobs", "stages", "tasks", "task_ms", "shuffle_read_bytes",
    "shuffle_write_bytes", "slowest_stages",
}


def test_measure_records_every_layer_and_stable_plans(spark, tmp_path):
    first, after = tmp_path / "first", tmp_path / "after"
    (op1,) = measure(spark, [OP_Q], SF_DIR, n=1, plans_dir=str(first))
    sql, op2 = measure(spark, [SQL_Q, OP_Q], SF_DIR, n=1, plans_dir=str(after))

    for rec in (sql, op1, op2):
        assert set(rec) == LAYERS
        assert len(rec["wall_s"]) == 1 and rec["wall_min_s"] > 0
        assert rec["jobs"] >= 1 and rec["stages"] >= 1
        # the warm pass compiled the query's classes; the timed pass reuses them
        assert rec["codegen_compiles"] == 0
        assert rec["slowest_stages"]
    assert sql["name"] == SQL_Q and op1["name"] == op2["name"] == OP_Q
    assert sql["cpus"] == spark.sparkContext.defaultParallelism

    # py4j commands of one build: positive, and the same on every call
    assert op1["build_py4j"] > 0
    assert op1["build_py4j"] == op2["build_py4j"]

    # the operator's plan captured first equals the one captured after
    # another query ran; the run counters are masked out
    plan = (first / f"{OP_Q}.txt").read_text()
    assert "Physical Plan" in plan
    assert plan == (after / f"{OP_Q}.txt").read_text()
    for path in (first / f"{OP_Q}.txt", after / f"{SQL_Q}.txt"):
        assert not re.search(r"#\d|lambda x_\d", path.read_text())
