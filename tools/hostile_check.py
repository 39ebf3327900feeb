"""Driver-hostility replica: check_oracle's gate loop (``run_gate``, bitwise)
on a PLAIN SparkSession, built without default_spark_session's confs and
with a half-hour-offset timezone. The queries' Context pins
``SESSION_CONTRACT`` (UTC, double-quoted identifiers, nano-timestamps as
longs) on it, so the leg checks that the pin holds and that results do not
depend on the performance defaults, partition count or execution path.
Its Python workers run from Spark's own ``pyspark.daemon``, not the
engine's, so it is also the control leg for ``dask_sql_spark.daemon``; the
session puts the checkout on the workers' path itself.

Usage:
    python tools/hostile_check.py [name_filter ...]
Env:
    HOSTILE_TZ       timezone the session is built with (default
                     Asia/Kolkata); Context must replace it with UTC
    SF_DIR           (default /root/testdata/sf0.01)
    HOSTILE_PARTS    shuffle partition count (default 16 — pick odd to
                     shake out combine-order dependence)
    HOSTILE_CODEGEN  "false" disables whole-stage codegen: results must
                     be bitwise identical on the interpreted path too
    HOSTILE_AQE      "false" disables adaptive query execution
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from pyspark.sql import SparkSession

    from tools.check_oracle import ROOT, SF_DIR, run_gate

    tz = os.environ.get("HOSTILE_TZ", "Asia/Kolkata")
    # a gate whose value changes with the shuffle partition count (i.e.
    # with float combine order) is a latent driver red: every reduction
    # is integer-exact or ROUND-masked, so any count must give
    # bitwise-identical results
    parts = os.environ.get("HOSTILE_PARTS", "16")
    codegen = os.environ.get("HOSTILE_CODEGEN", "true")
    aqe = os.environ.get("HOSTILE_AQE", "true")
    spark = (
        SparkSession.builder.master("local[16]")
        .appName("hostile_check")
        .config("spark.sql.shuffle.partitions", parts)
        .config("spark.sql.session.timeZone", tz)
        .config("spark.sql.codegen.wholeStage", codegen)
        .config("spark.sql.adaptive.enabled", aqe)
        .config("spark.executorEnv.PYTHONPATH", ROOT)
        .getOrCreate()
    )
    print(f"hostile session: TZ={tz} partitions={parts} "
          f"codegen={codegen} aqe={aqe}")
    return run_gate(spark, SF_DIR, sys.argv[1:], bitwise=True)


if __name__ == "__main__":
    sys.exit(main())
