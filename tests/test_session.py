"""``get_spark``'s generated-code cache.

Spark caches compiled generated classes by source text in an LRU of
``spark.sql.codegen.cache.maxEntries`` entries. The dashboard mix cycles
through more code bodies per pass than Spark's default of 100, so at that
size every warm pass compiled all of them again (and the JIT re-compiled
the new classes). ``get_spark`` sizes the cache to hold them.
"""

from __future__ import annotations

import __spark_entry__ as em
from facturas_spark.analytics.cache import release_session_cache
from facturas_spark.session import CODEGEN_CACHE_ENTRIES
from tests.test_plans import SF

# the benchmark's ten-query dashboard mix, listed here so the test does not
# depend on the benchmark harness
DASHBOARD_MIX = [
    "q01_daily_sales", "q02_top_products", "q07_category_share",
    "q13_rolling_price_stats", "q14_top_proveedores", "v_productos_top",
    "esc_food_cost_platos", "numier_upsert_ventas", "master_products",
    "q15_hybrid_textual",
]


def _compiles(spark) -> int:
    """Janino compiles this JVM has run."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _pass(spark, registry) -> dict[str, list]:
    return {q: sorted(map(tuple, registry[q](spark, SF).collect()), key=repr) for q in DASHBOARD_MIX}


def test_warm_dashboard_mix_compiles_no_code(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    registry = em.queries()
    release_session_cache(spark)
    try:
        first = _pass(spark, registry)
        before = _compiles(spark)
        second = _pass(spark, registry)
        # at Spark's default of 100 entries the second pass compiled about 165 classes
        assert _compiles(spark) - before == 0
        assert second == first
    finally:
        release_session_cache(spark)
