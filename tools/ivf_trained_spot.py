"""Trained-codebook IVF pruning measurement (round-12, VERDICT r11 #2).

The r11 honesty note: the `ann_ivf_indexed` gate's FIXED codebook (first
16 corpus vectors) is near-random over the tiled embeddings, so its 5
queries x 4 probes touch 13/16 cells — the measured 20x came from not
re-deriving assignment, not from deep pruning. This tool attests that
the pruning mechanics BITE when the codebook is real: build the index
with the spark.ml-KMeans-trained codebook (`ivf_build_index`'s
`centroids=None` default path), then search fresh-process and record
probed-cells / n_cells, corpus rows actually scanned / total, and
min-of-3 search wall-clock.

One phase per PROCESS (measurement hygiene, SCALING.md r11: a search
timed in the build process is polluted by a warm JVM + page cache of
the freshly written files).

Usage:
  python tools/ivf_trained_spot.py build  <sf_dir> <index_dir> <parts> <mem> [n_cells]
  python tools/ivf_trained_spot.py search <sf_dir> <index_dir> <parts> <mem> [n_probe]
e.g.
  python tools/ivf_trained_spot.py build  .localdata/sf100 .localdata/ivfidx_trained_sf100 64 48g 16
  python tools/ivf_trained_spot.py search .localdata/sf100 .localdata/ivfidx_trained_sf100 64 48g 4
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> int:
    mode, sf_dir, index_dir, parts, mem = (
        sys.argv[1],
        sys.argv[2],
        sys.argv[3],
        int(sys.argv[4]),
        sys.argv[5],
    )
    from pyspark.sql import functions as F

    from dask_sql_spark.context import default_spark_session
    from dask_sql_spark.operators import similarity as sim

    spark = default_spark_session(
        shuffle_partitions=parts,
        **{
            "spark.driver.memory": mem,
            "spark.driver.maxResultSize": "4g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = {"mode": mode, "sf_dir": sf_dir, "index_dir": index_dir}

    if mode == "build":
        n_cells = int(sys.argv[6]) if len(sys.argv) > 6 else 16
        t0 = time.time()
        sim.ivf_build_index(emb, index_dir, n_cells=n_cells)  # KMeans path
        out["build_sec"] = round(time.time() - t0, 2)
        out["n_cells"] = n_cells
        cells = (
            spark.read.parquet(f"{index_dir}/corpus")
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("cell")
            .collect()
        )
        out["cell_sizes"] = {int(r["cell"]): int(r["n"]) for r in cells}
        out["n_rows"] = sum(out["cell_sizes"].values())
    elif mode == "search":
        n_probe = int(sys.argv[6]) if len(sys.argv) > 6 else 4
        queries = emb.where(F.col("vec_id") < 5)  # same 5 as the gate
        cent_df = spark.read.parquet(f"{index_dir}/centroids")
        n_cells = cent_df.count()
        q = queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("vq"),
        )
        probed = sorted(
            r[0]
            for r in sim._rank_query_cells(
                q, sim._collect_codebook(cent_df), n_probe
            )
            .select("cell")
            .distinct()
            .collect()
        )
        corpus = spark.read.parquet(f"{index_dir}/corpus")
        total_rows = corpus.count()
        scanned_rows = corpus.where(F.col("cell").isin(probed)).count()
        times = []
        for _ in range(3):
            t0 = time.time()
            res = sim.ivf_search(
                spark, index_dir, queries, k=10, n_probe=n_probe
            )
            n = res.count()
            times.append(round(time.time() - t0, 2))
        out.update(
            n_probe=n_probe,
            n_cells=int(n_cells),
            probed_cells=probed,
            n_probed=len(probed),
            probe_ratio=round(len(probed) / n_cells, 4),
            total_rows=int(total_rows),
            scanned_rows=int(scanned_rows),
            scan_ratio=round(scanned_rows / total_rows, 4),
            result_rows=int(n),
            search_sec_runs=times,
            search_sec=min(times),
        )
    else:
        raise SystemExit(f"unknown mode {mode!r}")

    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
