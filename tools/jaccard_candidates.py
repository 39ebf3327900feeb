"""Candidate-volume A/B for the jaccard prefix filter (round-12 scale
measurement, VERDICT r11 #1).

For a given sf_dir + threshold + max_df, reports the candidate-PAIR row
count each plan materializes into its quadratic stage:

- legacy: sum over shingle buckets of c*(c-1)/2 (post max_df) — exactly
  the rows the bucket-count plan's in-row pair explode emits into its
  groupBy(id_a,id_b) shuffle (SCALING.md's measured 26 GB stage at sf100);
- prefix: the rows the prefix plan's emission stage
  (dedup._prefix_emissions) passes through the length filter, and
  (prefix_pairs_pos) through the positional filter too — the rows the
  pruned plan feeds its distinct.

Counting evaluates the explode but aggregates in place (no pair
shuffle), so this measures volume without paying the reduce side.
Optionally (--wall) also runs each plan function end-to-end at the
given threshold, whatever plan the threshold would pick, and reports
wall-clock; use on SFs where both are feasible.

Usage:
  python tools/jaccard_candidates.py <sf_dir> <parts> <mem> <threshold> \
      [max_df|none] [--wall] [--prefix-only]
e.g.
  python tools/jaccard_candidates.py .localdata/sf10 128 48g 0.12 1000 --wall
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    wall = "--wall" in sys.argv
    prefix_only = "--prefix-only" in sys.argv
    sf_dir, parts, mem, threshold = (
        args[0],
        int(args[1]),
        args[2],
        float(args[3]),
    )
    max_df = None
    if len(args) > 4 and args[4].lower() != "none":
        max_df = int(args[4])

    from pyspark.sql import functions as F

    import dask_sql_spark.operators.dedup as dd
    from dask_sql_spark.context import default_spark_session

    spark = default_spark_session(
        shuffle_partitions=parts,
        **{
            "spark.driver.memory": mem,
            "spark.driver.maxResultSize": "4g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs_df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = {
        "sf_dir": sf_dir,
        "threshold": threshold,
        "max_df": max_df,
        "n_docs": docs_df.count(),
    }

    t_eff = max(threshold - dd._ROUND6_SLACK, 0.0)
    t0 = time.time()
    pdocs = dd._prefix_doc_sets(docs_df, "doc_id", "text", 3, t_eff, max_df)
    pdocs.persist()
    if not prefix_only:
        out["legacy_pairs"] = int(
            pdocs.select(F.explode("set_").alias("shingle"))
            .groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("c"))
            .select(F.sum((F.col("c") * (F.col("c") - 1) / 2).cast("double")))
            .collect()[0][0]
            or 0
        )
    out["prefix_doc_build_sec"] = round(time.time() - t0, 1)

    # the plan's own emission stage and filters, counted in place
    t0 = time.time()
    emitted = (
        dd._prefix_emissions(pdocs, "doc_id", "jaccard")
        .where(dd._length_ok(t_eff))
        .persist()
    )
    out["prefix_pairs"] = emitted.count()
    out["prefix_pairs_pos"] = emitted.where(
        dd._positional_ok("jaccard", t_eff)
    ).count()
    emitted.unpersist()
    out["prefix_count_sec"] = round(time.time() - t0, 1)
    if out.get("legacy_pairs"):
        out["reduction"] = round(out["legacy_pairs"] / max(out["prefix_pairs"], 1), 2)
    pdocs.unpersist()

    if wall:
        plans = {
            "prefix": lambda: dd._prefix_overlap(
                docs_df, "doc_id", "text", 3, threshold, max_df, "jaccard"
            ),
            "legacy": lambda: dd._bucket_overlap(
                docs_df, "doc_id", "text", 3, max_df
            ),
        }
        for name, plan in plans.items():
            if prefix_only and name == "legacy":
                continue
            t0 = time.time()
            n = dd._jaccard_rows(plan(), threshold).count()
            out[f"{name}_wall_sec"] = round(time.time() - t0, 1)
            out[f"{name}_result_pairs"] = n
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
