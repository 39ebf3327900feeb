"""Round-9 weak-scaling spot-run: the three heaviest operators at sf10.

Extends SCALING.md's curve one decade past sf1 (r8 verdict #7): Spark
side only, no oracle — DuckDB has no business replaying 60M-row minhash
closures. Data: `tools/make_sf1.py` re-tiled with SF_SRC=.localdata/sf1
into .localdata/sf10 (token re-salting + key offsets again → 100
independent corpora vs sf0.1).

One SF per PROCESS (driver memory is a JVM-startup option; it cannot
change on a second getOrCreate). Per query: min-of-2 after one untimed
cheap warm pass, mirroring bench.py's steady-state method. Partitions/
heap scale with SF the way a real deployment's would.

Usage:
  python tools/sf10_spot.py <sf_dir> <shuffle_partitions> <driver_mem> \
      [query1,query2,...]
e.g.
  python tools/sf10_spot.py .localdata/sf1  64  24g
  python tools/sf10_spot.py .localdata/sf10 128 48g
  python tools/sf10_spot.py .localdata/sf10 128 48g dedup_simhash,events_resample_fill
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

QUERIES = [
    "dedup_components_minhash",
    "dedup_ngram_jaccard",
    "pipeline_training_prep",
]


def main() -> int:
    sf_dir, parts, mem = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    queries = sys.argv[4].split(",") if len(sys.argv) > 4 else QUERIES

    import __spark_entry__ as entry
    from dask_sql_spark.context import default_spark_session

    spark = default_spark_session(
        shuffle_partitions=parts,
        **{
            "spark.driver.memory": mem,
            "spark.driver.maxResultSize": "4g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    # warm the JVM/codegen path once with a cheap scan
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    out = {}
    for name in queries:
        times = []
        for _ in range(2):
            t0 = time.time()
            n = qs[name](spark, sf_dir).count()
            times.append(time.time() - t0)
        out[name] = {
            "sec": round(min(times), 3),
            "rows": n,
            "passes": [round(t, 3) for t in times],
        }
        print(
            f"{name}: {out[name]['sec']}s ({n} rows) "
            f"passes={out[name]['passes']}",
            flush=True,
        )
    print("RESULT " + json.dumps({"sf_dir": sf_dir, "queries": out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
