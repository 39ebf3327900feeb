"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized with the noop sink (full execution, no driver
transfer). Timing excludes Spark/JVM startup but includes full plan,
shuffle and scan work per query.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q18_large_orders",
    "join_left_q13",
    "agg_stats",
    "window_running_sum",
    "window_rownum_top3",
    "q7_volume_shipping",
    "q9_product_profit",
    "q19_disjunctive",
    "q21_waiting_orders",
    "events_sessionize",
    "events_json_extract",
    "stream_session_window",
    "text_quality",
    "text_fingerprint",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "text_langid",
    "ann_brute_topk",
    "embedding_stats",
    "multimodal_image_meta",
    # round-2 additions (kept after the original 28 so per-query
    # comparison against BENCH_r01 stays aligned)
    "join_asof",
    "join_range",
    "events_sessions",
    "events_transitions",
    "events_resample_fill",
    "dedup_spans",
    "text_repetition_signals",
    "text_tfidf_topterms",
    "emb_centroid_cosine",
    "sink_zorder_key",
    "curate_source_quota",
    # round-3 additions (appended; earlier prefixes stay comparable)
    "emb_quantize_int8",
    "text_ngram_topk",
    "pipeline_training_prep",
    "agg_salted_distinct",
    "text_unigram_lm_bits",
    # round-4 additions
    "dedup_incremental",
    "llm_shuffle_shards",
    "curate_semantic_decon",
    "text_bpe_pairs",
    "search_hybrid_rerank",
    # round-5 additions (driver round 3): arbitrary-step resample + the
    # newly oracle-gated LSH top-k
    "events_resample_15min",
    "ann_lsh_topk",
    # round-6 additions (driver round 3, second session): TPC-H closure +
    # fuzzy/diversity/curriculum operators
    "q2_min_cost_supplier",
    "dedup_fuzzy_levenshtein",
    "search_mmr_rerank",
    "llm_curriculum_order",
    "events_twap",
    "maint_cdc_apply",
    "text_rake_keyphrases",
    "events_attribution",
    # round-7 additions (driver round 4): the newly oracle-gated IVF
    # path. dedup_embedding_lsh's gate variant (kernel="fold") is
    # deliberately NOT here: the fold kernel exists for bitwise oracle
    # replay, the throughput path is the BLAS kernel already covered by
    # dedup_embedding_cosine/ann_* entries.
    "ann_ivf_topk",
    # round-8 additions (driver round 5): the shard-merge HLL sketch
    # (the 100 TB distinct-count workflow, newly value-gated) and the
    # connected-components dedup clustering pass (checkpointed label
    # propagation — the heaviest iterative operator not yet benched)
    "sketch_hll_mergeable",
    "dedup_components_minhash",
    # round-11 addition (driver round 10 verdict #1): the persistent IVF
    # index search path. The gate builds the index once per (sf, data
    # fingerprint) into tmp; min-of-2 timing therefore reports the
    # SEARCH cost (the deployment steady state), with the one-off build
    # paid by the first pass.
    "ann_ivf_indexed",
]

# the 28 queries BENCH_r01 measured (total 27.48 s at sf0.1): their
# subtotal is emitted as baseline_subset_total so cross-round comparison
# is not skewed by the headline list growing each round
_R01_SET = set(HEADLINE[:28])


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # single-JVM local mode: spark.driver.memory IS the executor heap.
    # The 1g default fits sf0.1 but not the sf1 scaling run (SCALING.md);
    # 16g is still a sliver of the 128 GiB harness.
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")

    from dask_sql_spark.context import default_spark_session

    spark = default_spark_session(
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        **{
            "spark.driver.memory": mem,
            # ContextCleaner reclaims shuffle files / broadcast pieces only
            # when the JVM GCs; a 16g heap under a ~180-query session may
            # never full-GC on its own, so stale blocks accumulate and tax
            # late queries. Hourly default -> 60s bounds the buildup.
            "spark.cleaner.periodicGC.interval": "60s",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()

    # warm up executor pool + parquet footers outside the timed section
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    def run(name: str) -> float:
        t0 = time.time()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = round(time.time() - t0, 3)
        # operators that persist() intermediates (LSH band buckets,
        # incremental stores) would otherwise pile blocks up across the
        # 2x full-list sweep and tax later queries with GC/evictions;
        # each query pays for its own materialization inside its timing
        spark.catalog.clearCache()
        return dt

    # steady-state methodology: one untimed warm pass (page cache, and the
    # ~810 generated classes of the 63 queries, which stay compiled in the
    # 2048-entry codegen cache of default_spark_session), then two timed
    # passes taking the per-query MIN — the harness VM shows multi-second
    # stolen-CPU stalls that land on random queries, and min-of-2 keeps one
    # stall from misreporting a query
    for name in HEADLINE:
        run(name)
    timings = {name: run(name) for name in HEADLINE}
    for name in HEADLINE:
        timings[name] = min(timings[name], run(name))

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline_total",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "n_queries": len(timings),
                "baseline_subset_total": round(
                    sum(v for k, v in timings.items() if k in _R01_SET), 3
                ),
            }
        )
    )


if __name__ == "__main__":
    main()
