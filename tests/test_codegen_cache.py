"""Warm re-runs reuse their generated code.

Spark caches Janino-compiled whole-stage-codegen classes in an LRU.  At
its default 100 entries, a client cycling through more distinct classes
than that misses on every lookup and recompiles each plan on every pass;
``session.get_spark`` sizes the cache to the engine's working set.
"""

from iiot_data_engineering_lab_assignment_spark import registry
from iiot_data_engineering_lab_assignment_spark.session import codegen_counters

from conftest import SF_DIR

#: Registry rows whose plans generate the same classes on every run (no
#: AQE-numbered stages): about 150 distinct classes at sf0.001, more than
#: the default cache holds.
ROWS = [
    "gapfill_locf_daily",
    "session_rollup_5m",
    "order_lineitem_join_agg",
    "q18_large_volume_customers",
    "customer_order_revenue",
    "asof_join_purchase_click",
    "zscore_anomalies",
    "rank_orders_per_customer",
    "q1_pricing_summary",
    "sensor_rollup_1m",
    "cosine_topk",
    "sliding_rollup_1m_30s",
]
#: Measured with a 1000-entry cache: the second pass compiled 0-2
#: classes; with the default 100 entries it recompiled about 140.
MAX_SECOND_PASS_COMPILES = 10


def _pass(spark) -> int:
    before, _ = codegen_counters(spark)
    for name in ROWS:
        df = registry.QUERIES[name].fn(spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
    return codegen_counters(spark)[0] - before


def test_second_pass_reuses_compiled_classes(spark):
    _pass(spark)
    assert _pass(spark) <= MAX_SECOND_PASS_COMPILES
