"""``get_spark``'s generated-code cache and Python worker daemon.

Spark caches compiled generated classes by source text in an LRU of
``spark.sql.codegen.cache.maxEntries`` entries. The dashboard mix cycles
through more code bodies per pass than Spark's default of 100, so at that
size every warm pass compiled all of them again (and the JIT re-compiled
the new classes). ``get_spark`` sizes the cache to hold them.

Python workers fork from ``facturas_spark.worker_daemon``, which has
imported the kernel, dropped its import-path cache and frozen the GC. It
imports the installed pyspark and py4j (cached bytecode) instead of
Spark's zips when they are the same release; the tests pin that a worker
runs the installed copies, that every pyspark / py4j module it loaded has
the bytes of its entry in Spark's zip, and that another release keeps
Spark's path. The daemon also drops Spark's ``spark-core`` jar from the
path, an archive with no Python module; the tests pin that no module a
worker loaded could have come from a dropped archive. Byte-identical
extraction across daemons is pinned by ``tests/test_local_cluster.py``:
its ``local-cluster`` run keeps Spark's own daemon and imports pyspark from
the zip.

The driver JVM runs the C2 thresholds of ``session.C2_THRESHOLDS``: the
tests read the values the JVM uses (Spark adds
``-XX:+IgnoreUnrecognizedVMOptions``, so a misspelled flag would be
dropped silently), and pin that ``$SPARK_GRAFT_JVM_OPTS`` overrides them.
A driver under ``spark-submit`` keeps spark-submit's ``--master`` and
``--conf`` values.
"""

from __future__ import annotations

import gc
import json
import os
import pathlib
import runpy
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import py4j
import pyspark
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import functions as F

import __spark_entry__ as em
from facturas_spark.analytics.cache import release_session_cache
from facturas_spark.extraction.udf import extract_batch_header
from facturas_spark.pipeline import extract_pages_header
from facturas_spark.session import C2_THRESHOLDS, CODEGEN_CACHE_ENTRIES
from facturas_spark.synth import gen_corpus_slice
from facturas_spark.worker_daemon import _spark_zip_package, holds_python, prefer_installed_pyspark
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


def _worker_state(spark) -> dict:
    """What one Python worker reports about its interpreter."""

    # a nested function is pickled by value: the worker does not import this
    # module (which imports the kernel) to run it
    @F.pandas_udf("string")
    def report(ids: pd.Series) -> pd.Series:
        modules = {
            name: getattr(m, "__file__", None)
            for name, m in list(sys.modules.items())
            if name.split(".")[0] in ("pyspark", "py4j")
        }
        state = {
            "kernel_imported": "facturas_spark.extraction.udf" in sys.modules,
            "frozen": gc.get_freeze_count(),
            "zip_importers": sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()),
            "modules": modules,
            "zip_modules": sorted(
                name for name, m in list(sys.modules.items()) if ".zip/" in (getattr(m, "__file__", None) or "")
            ),
            "top_level": sorted({name.split(".")[0] for name in list(sys.modules)}),
            # every file and package-path entry of every loaded module
            "locations": sorted(
                {getattr(m, "__file__", None) or "" for m in list(sys.modules.values())}
                | {entry for m in list(sys.modules.values()) for entry in (getattr(m, "__path__", None) or [])}
            ),
            "path": sys.path,
        }
        return pd.Series([json.dumps(state)] * len(ids))

    return json.loads(spark.range(0, 1, 1, 1).select(report("id")).first()[0])


def test_workers_fork_with_kernel_imported_and_gc_frozen(spark):
    state = _worker_state(spark)
    # Spark's own daemon: no kernel, 0 frozen objects, 16 zip importers (one
    # per imported pyspark/py4j package path, each re-reading pyspark.zip's
    # directory on every task); the package's daemon with pyspark and py4j
    # imported from the zips: 3; with the spark-core jar on the path: 1
    assert state["kernel_imported"]
    assert state["frozen"] > 0
    assert state["zip_importers"] == 0
    # the installed pyspark and py4j, with cached bytecode, not Spark's zips
    assert state["modules"]["pyspark"] == pyspark.__file__
    assert state["modules"]["py4j"] == py4j.__file__
    assert state["zip_modules"] == []


def test_workers_run_the_same_pyspark_source_as_sparks_zips(spark):
    """Every pyspark / py4j module a worker loaded after an extraction is
    byte-identical to its entry in the zip Spark put on the worker's path."""
    pages = spark.createDataFrame(
        gen_corpus_slice(list(range(8)), seed=42), "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    extract_pages_header(pages).collect()
    state = _worker_state(spark)
    zips = {p: zipimport.zipimporter(e) for e in state["path"] if (p := _spark_zip_package(e))}
    assert set(zips) == {"pyspark", "py4j"}
    compared = 0
    for name, file in state["modules"].items():
        if file is None:  # namespace packages
            continue
        package = name.split(".")[0]
        member = os.path.relpath(file, os.path.dirname(os.path.dirname(state["modules"][package])))
        assert zips[package].get_data(member) == pathlib.Path(file).read_bytes(), member
        compared += 1
    assert compared > 100


def test_workers_drop_only_archives_no_loaded_module_could_come_from(spark):
    """The archives the daemon drops from Spark's worker path (the
    spark-core jar) hold no module a worker loads after an extraction, not
    even a namespace package portion."""
    pages = spark.createDataFrame(
        gen_corpus_slice(list(range(8)), seed=42), "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    extract_pages_header(pages).collect()
    state = _worker_state(spark)
    spark_path = spark._jvm.org.apache.spark.api.python.PythonUtils.sparkPythonPath().split(os.pathsep)
    dropped = [entry for entry in spark_path if not holds_python(entry)]
    assert [os.path.basename(entry).split("_")[0] for entry in dropped] == ["spark-core"]
    assert _spark_zip_package(spark_path[0]) == "pyspark"
    for archive in dropped:
        assert archive not in state["path"]
        assert not [loc for loc in state["locations"] if loc.startswith(archive)]
        # the jar's bare ``org/`` and ``google/`` directories are namespace
        # portions; no loaded top-level name is one of them
        finder = zipimport.zipimporter(archive)
        assert [name for name in state["top_level"] if finder.find_spec(name) is not None] == []
        # With the jar on the path, the stdlib's Jython probe in ``copy`` and
        # ``pickle`` (``from org.python.core import PyStringMap``) imported
        # ``org`` from it as an empty namespace package, then failed, as it
        # does without the jar: the jar holds no ``org/python/``.
        with zipfile.ZipFile(archive) as zf:
            assert not [member for member in zf.namelist() if member.startswith("org/python/")]
    assert {"pandas", "pyarrow", "facturas_spark"} <= set(state["top_level"])


def test_holds_python_is_false_only_for_archives_without_modules(tmp_path):
    def archive(name: str, members: list[str]) -> str:
        with zipfile.ZipFile(tmp_path / name, "w") as zf:
            for member in members:
                zf.writestr(member, b"")
        return str(tmp_path / name)

    assert not holds_python(archive("core.jar", ["org/apache/A.class", "google/protobuf/any.proto"]))
    assert holds_python(archive("src.zip", ["pkg/__init__.py"]))
    assert holds_python(archive("bytecode.zip", ["mod.pyc"]))
    (tmp_path / "notes.txt").write_text("not an archive")
    for entry in (str(tmp_path), str(tmp_path / "notes.txt"), str(tmp_path / "missing.zip"), ""):
        assert holds_python(entry)


def _fake_zip(path, package: str, version: bytes) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{package}/__init__.py", b"")
        zf.writestr(f"{package}/version.py", version)
    return str(path)


def _installed_version(package) -> bytes:
    return pathlib.Path(package.__file__).with_name("version.py").read_bytes()


def test_daemon_prefers_installed_pyspark_only_for_the_same_release(tmp_path):
    installed = os.path.dirname(os.path.dirname(pyspark.__file__))
    assert os.path.dirname(os.path.dirname(py4j.__file__)) == installed
    py4j_zip = _fake_zip(tmp_path / "py4j-0.10.9.9-src.zip", "py4j", _installed_version(py4j))
    (tmp_path / "same").mkdir()
    same = _fake_zip(tmp_path / "same" / "pyspark.zip", "pyspark", _installed_version(pyspark))
    other = _fake_zip(tmp_path / "pyspark.zip", "pyspark", b"__version__: str = '3.5.0'\n")

    path = [REPO, same, py4j_zip, "/nonexistent", installed]
    prefer_installed_pyspark(path)
    assert path == [REPO, "/nonexistent", installed, same, py4j_zip]

    for spark_order in (
        [REPO, other, py4j_zip, installed],  # another pyspark release installed
        [REPO, same, py4j_zip],  # no pyspark installed
    ):
        path = list(spark_order)
        prefer_installed_pyspark(path)
        assert path == spark_order


def test_importing_worker_daemon_leaves_driver_untouched():
    frozen = gc.get_freeze_count()
    importers = dict(sys.path_importer_cache)
    path = list(sys.path)
    # run_path: this module has imported the daemon already, and runpy warns
    # on run_module of an imported module
    runpy.run_path(os.path.join(REPO, "facturas_spark", "worker_daemon.py"))
    assert gc.get_freeze_count() == frozen
    assert importers.items() <= sys.path_importer_cache.items()
    assert sys.path == path


_CWD_JOB = """
import json, sys
sys.path.insert(0, %(root)r)
from facturas_spark.pipeline import extract_pages_header
from facturas_spark.session import get_spark
from facturas_spark.synth import gen_corpus_slice
from facturas_spark.worker_daemon import _spark_zip_package, prefer_installed_pyspark

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


_THRESHOLDS = dict(flag.removeprefix("-XX:").split("=") for flag in C2_THRESHOLDS.split())


def _vm_options(jvm) -> dict[str, tuple[str, str]]:
    """(value, origin) of each C2 threshold, as the JVM reads them."""
    bean_class = jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(bean_class)
    options = {name: bean.getVMOption(name) for name in _THRESHOLDS}
    return {name: (option.getValue(), option.getOrigin().toString()) for name, option in options.items()}


def test_driver_jvm_runs_the_package_c2_thresholds(spark):
    assert len(_THRESHOLDS) == 4
    # VM_CREATION: set on the command line, not JDK 17's defaults
    assert _vm_options(spark._jvm) == {name: (value, "VM_CREATION") for name, value in _THRESHOLDS.items()}


_JVM_OPTS_JOB = """
import json, sys
sys.path.insert(0, %(root)r)
from facturas_spark.session import get_spark

spark = get_spark("jvm-opts", cores=1)
jvm = spark._jvm
bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
)
print(json.dumps({name: bean.getVMOption(name).getValue() for name in %(names)r}))
spark.stop()
"""


def test_spark_graft_jvm_opts_override_a_c2_threshold(tmp_path):
    env = dict(os.environ, SPARK_GRAFT_JVM_OPTS="-XX:+UseParallelGC -XX:Tier4InvocationThreshold=7000")
    proc = subprocess.run(
        [sys.executable, "-c", _JVM_OPTS_JOB % {"root": REPO, "names": list(_THRESHOLDS)}],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1]) == {**_THRESHOLDS, "Tier4InvocationThreshold": "7000"}


_MASTER_PROBE = """
import json, sys
sys.path.insert(0, %(root)r)
from facturas_spark.session import get_spark

spark = get_spark("master-probe", cores=1)
print(json.dumps({
    "master": spark.sparkContext.master,
    "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
}))
spark.stop()
"""


def _probe_master(argv: list[str], cwd) -> dict[str, str]:
    proc = subprocess.run(argv, cwd=cwd, capture_output=True, text=True, timeout=600)
    # spark-submit merges the driver's stderr into stdout
    assert proc.returncode == 0, (proc.stdout + proc.stderr)[-3000:]
    last = [line for line in proc.stdout.splitlines() if line.startswith("{")][-1]
    return json.loads(last)


def test_spark_submit_keeps_its_master(tmp_path):
    """Under spark-submit the driver JVM is already running with
    spark-submit's ``--master`` and ``--conf`` values; ``get_spark`` must
    not replace them: ``local[cores]`` would run every task in the driver,
    and ``cores`` shuffle partitions would undo the cluster's sizing. A
    plain ``python`` driver still gets ``local[cores]`` and ``cores``."""
    probe = tmp_path / "probe.py"
    probe.write_text(_MASTER_PROBE % {"root": REPO})
    submit = os.path.join(_find_spark_home(), "bin", "spark-submit")
    argv = [submit, "--master", "local[2]", "--conf", "spark.sql.shuffle.partitions=7", str(probe)]
    assert _probe_master(argv, tmp_path) == {"master": "local[2]", "shuffle_partitions": "7"}
    assert _probe_master([sys.executable, str(probe)], tmp_path) == {"master": "local[1]", "shuffle_partitions": "1"}
