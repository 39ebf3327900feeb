"""Plan-build cost of named queries: warm build wall time (min of 3)
and the py4j round trips one build makes (cProfile count of
py4j send_command calls). Plan build is pure driver work, so the call
count is stable across machines; the wall time is not.

Usage: SPARK_GRAFT_SF_DIR=<dir of the sf tables> python tools/build_cost.py name [name ...]
Env: SPARK_GRAFT_SF_DIR (required, the same tables bench.py reads),
     SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_DRIVER_MEM (default 16g).
"""

from __future__ import annotations

import cProfile
import os
import pstats
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir or not names:
        sys.exit(__doc__)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")

    from dask_sql_spark.context import default_spark_session

    spark = default_spark_session(
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        **{"spark.driver.memory": mem},
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    for name in names:
        fn = qs[name]
        fn(spark, sf_dir)  # cold build
        times = []
        for _ in range(3):
            t0 = time.time()
            fn(spark, sf_dir)
            times.append(time.time() - t0)
        pr = cProfile.Profile()
        pr.enable()
        fn(spark, sf_dir)
        pr.disable()
        ncalls = sum(
            nc
            for (f, _, nm), (_, nc, *_rest) in pstats.Stats(pr).stats.items()
            if nm == "send_command" and "java_gateway" in f
        )
        print(
            f"BUILD {name}: min {min(times):.3f}s  py4j_calls {ncalls}"
            f"  cpus {cpus}",
            flush=True,
        )


if __name__ == "__main__":
    main()
