"""``get_spark``'s generated-code cache and Python worker daemon.

Spark caches compiled generated classes by source text in an LRU of
``spark.sql.codegen.cache.maxEntries`` entries. The dashboard mix cycles
through more code bodies per pass than Spark's default of 100, so at that
size every warm pass compiled all of them again (and the JIT re-compiled
the new classes). ``get_spark`` sizes the cache to hold them.

Python workers fork from ``facturas_spark.worker_daemon``, which has
imported the kernel, dropped its import-path cache and frozen the GC.
Byte-identical extraction across daemons is pinned by
``tests/test_local_cluster.py``: its ``local-cluster`` run keeps Spark's
own daemon.
"""

from __future__ import annotations

import gc
import json
import os
import runpy
import subprocess
import sys
import zipimport

import pandas as pd
from pyspark.sql import functions as F

import __spark_entry__ as em
from facturas_spark.analytics.cache import release_session_cache
from facturas_spark.extraction.udf import extract_batch_header
from facturas_spark.session import CODEGEN_CACHE_ENTRIES
from facturas_spark.synth import gen_corpus_slice
from tests.test_plans import SF

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

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


def test_workers_fork_with_kernel_imported_and_gc_frozen(spark):
    # a nested function is pickled by value: the worker does not import this
    # module (which imports the kernel) to run it
    @F.pandas_udf("string")
    def report(ids: pd.Series) -> pd.Series:
        state = {
            "kernel_imported": "facturas_spark.extraction.udf" in sys.modules,
            "frozen": gc.get_freeze_count(),
            "zip_importers": sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()),
        }
        return pd.Series([json.dumps(state)] * len(ids))

    state = json.loads(spark.range(0, 1, 1, 1).select(report("id")).first()[0])
    # Spark's own daemon: no kernel, 0 frozen objects, 16 zip importers (one
    # per imported pyspark/py4j package path, each re-reading pyspark.zip's
    # directory on every task)
    assert state["kernel_imported"]
    assert state["frozen"] > 0
    assert state["zip_importers"] <= 3


def test_importing_worker_daemon_leaves_driver_untouched():
    frozen = gc.get_freeze_count()
    importers = dict(sys.path_importer_cache)
    runpy.run_module("facturas_spark.worker_daemon")
    assert gc.get_freeze_count() == frozen
    assert importers.items() <= sys.path_importer_cache.items()


_CWD_JOB = """
import json, sys
sys.path.insert(0, %(root)r)
from facturas_spark.pipeline import extract_pages_header
from facturas_spark.session import get_spark
from facturas_spark.synth import gen_corpus_slice

spark = get_spark("cwd-independent", cores=2)
pages = spark.createDataFrame(
    gen_corpus_slice([1], seed=42), "url string, warc_ts timestamp, html binary, text string, lang string"
)
print(json.dumps(extract_pages_header(pages).first().asDict(), default=str))
spark.stop()
"""

_COMPARED = ["extracted_text", "tipo_documento", "proveedor_cif", "numero_factura"]


def test_python_udf_runs_from_any_cwd_without_pythonpath(tmp_path):
    """A driver that puts the package on ``sys.path`` itself, started from
    another directory with no ``PYTHONPATH``: the workers still import it."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _CWD_JOB % {"root": REPO}],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    row = json.loads(proc.stdout.strip().splitlines()[-1])
    _, _, html, text, _ = gen_corpus_slice([1], seed=42)[0]
    want = extract_batch_header([html], [text]).iloc[0]
    assert {c: row[c] for c in _COMPARED} == {c: want[c] for c in _COMPARED}
