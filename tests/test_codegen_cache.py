"""Spark's codegen class cache holds the engine's working set: a second
pass over the relational statements compiles no class again.

The cache is one JVM-wide LRU (``spark.sql.codegen.cache.maxEntries``).
At Spark's default of 100 entries the ~200 classes of these 16 statements
evict each other, and every pass recompiles about 195 of them."""

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR
from tools.measure import codegen_compiles

# the 16 relational statements: 15 SQL texts and the salted distinct
# count, a DataFrame operator over the same tables
STATEMENTS = [
    "q1_pricing_summary", "q2_min_cost_supplier", "q3_shipping_priority",
    "q5_local_supplier", "q6_forecast_revenue", "q7_volume_shipping",
    "q9_product_profit", "q10_returned_items", "q18_large_orders",
    "q19_disjunctive", "q21_waiting_orders", "join_left_q13", "agg_stats",
    "window_running_sum", "window_rownum_top3", "agg_salted_distinct",
]


def _run_pass(spark, qs) -> int:
    """Run every statement to the noop sink; return the compilations."""
    before = codegen_compiles(spark)
    for name in STATEMENTS:
        qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
    return codegen_compiles(spark) - before


def test_codegen_cache_default(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2048"


def test_second_pass_compiles_nothing(spark):
    qs = entrymod.queries()
    _run_pass(spark, qs)
    assert _run_pass(spark, qs) == 0
