"""SparkSession factory tuned for the extraction workload.

Local-mode defaults mirror what we'd submit cluster-side via
``spark-submit --py-files`` (AQE on, Arrow on, sane shuffle partitioning,
a generated-code cache that holds the whole query registry, a JIT policy
for short sessions).
Parallelism is a parameter: tests run at 4 cores, ``perfbench/run.py`` at
the host's core count, production jobs at ``$SPARK_GRAFT_CPUS``.

The JVM ``get_spark`` launches compiles with C2 (HotSpot's optimizing JIT
tier) only what stays hot well past JDK 17's default thresholds:
:data:`C2_THRESHOLDS` raises each of the four tier-4 thresholds 5x. A JFR
``jdk.Compilation`` recording of one cold analytics pass found 27.4 s of
compile tasks against 40.2 CPU s for the pass, 23.5 s of it C2. Most of
that compiled code that runs hundreds to thousands of times per session:
Janino (the compiler of Spark's generated code), Java serialization, Spark
core and Catalyst; the queries' own generated classes took 7%. Under the higher thresholds C1
keeps running that machinery, and C2 still compiles whatever stays hot
(unlike ``-XX:TieredStopAtLevel=1``, which never reaches C2). Java 17
floating point is strict (JEP 306), so the JIT tier cannot change a result.

The factor trades short sessions against long ones: hot task code also
reaches C2 later. A perfbench session lasts about a minute. Over the whole
query registry at sf0.1 (a first pass of 2-3 minutes, then 1-1.5 minutes
a pass, in one session) 10x raised executor-task CPU 14% in the first
pass and 27% in the second. At 5x the first pass's executor-task CPU did
not rise and the second's rose 5%, inside the spread between runs, while
the JVM's total CPU fell in both. How long a production job's session
runs depends on its corpus; none was measured.

``get_spark`` sets the thresholds in ``spark.driver.defaultJavaOptions``,
which acts only when ``get_spark`` launches the JVM (a plain ``python``
process). Values set on the builder replace what ``spark-defaults.conf``
sets for the same keys, so only ``extra_conf`` or ``$SPARK_GRAFT_JVM_OPTS``
change them here. Spark puts the default options ahead of
``spark.driver.extraJavaOptions``, and HotSpot keeps the last value of a
repeated flag, so a threshold in ``$SPARK_GRAFT_JVM_OPTS`` wins. Under
``spark-submit`` the driver JVM is already running when ``get_spark`` is
called, so it runs with spark-submit's Java options and memory, not
these: pass ``--driver-memory`` and ``--driver-java-options``
(``-XX:+UseParallelGC`` and :data:`C2_THRESHOLDS`) to spark-submit
itself, as the jobs' usage shows. There ``get_spark`` sets only the keys
spark-submit left unset: its ``--master``, ``--conf`` values and
``spark-defaults.conf`` are kept.
Executor JVMs on a cluster take theirs from the cluster's own conf: put
:data:`C2_THRESHOLDS` in its ``spark.executor.defaultJavaOptions``
(``get_spark`` sets no executor Java option).

Python workers fork from :mod:`facturas_spark.worker_daemon` instead of
Spark's ``pyspark.daemon``. Spark's daemon imports only ``pyspark.worker``,
so each worker imported pandas, pyarrow and the extraction kernel on its
own, re-read ``pyspark.zip``'s directory once per cached zip importer on
every task (``importlib.invalidate_caches()``) and re-scanned every
import-time object in the GC run after every task. The package's daemon
imports them once, then clears the import-path cache and freezes the GC
before the first fork; every pandas UDF in the package gains, not only
extraction. Before those imports it moves Spark's ``pyspark.zip`` and py4j
zip behind an installed pyspark and py4j of the same release: ``zipimport``
caches no bytecode, so importing pyspark from the zip compiled it from
source in every new daemon (about 1 CPU s per session set-up). Cluster-side
the same holds with ``spark-submit --conf
spark.python.daemon.module=facturas_spark.worker_daemon`` and the package
on the executors' ``PYTHONPATH`` (``--py-files`` or
``spark.executorEnv.PYTHONPATH``); an executor without pip pyspark, or
with another release, keeps Spark's path and imports from the zips.
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

# The directory holding the package, put on the Python workers' path.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Entries of Spark's compiled generated-class cache (an LRU; Spark's default
# is 100). See the comment where get_spark sets it.
CODEGEN_CACHE_ENTRIES = 2048

# HotSpot's C2 compile thresholds, 5x each JDK 17 default (5000, 600,
# 15000, 40000). See the module docstring.
C2_THRESHOLDS = (
    "-XX:Tier4InvocationThreshold=25000 -XX:Tier4MinInvocationThreshold=3000 "
    "-XX:Tier4CompileThreshold=75000 -XX:Tier4BackEdgeThreshold=200000"
)


def get_spark(
    app_name: str = "facturas-spark",
    cores: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or 32. The session runs on
    ``local[cores]`` with shuffle partitions equal to ``cores`` — at
    sf<=0.1 one shuffle partition per core keeps every task busy without
    tiny-partition overhead. Under ``spark-submit`` each key the launcher
    holds (``--master``, ``--conf``, ``spark-defaults.conf``) keeps its
    value, so on a real cluster ``--conf spark.sql.shuffle.partitions``
    sets ~2-3x total cores (see the jobs' sizing notes). ``extra_conf``
    wins over both.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    conf = {
        "spark.master": f"local[{cores}]",
        "spark.sql.shuffle.partitions": str(cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # big Arrow batches amortize Python-worker round-trips in the
        # extraction UDF; each doc row is small (~1-4 KB text)
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # spill-awareness: 128 MB input splits keep one decompressed split
        # + its Arrow batch well inside an executor-core's memory share at
        # any corpus scale (the default, pinned here so a cluster-side
        # override is a conscious choice; raise only with fatter executors)
        "spark.sql.files.maxPartitionBytes": "134217728",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "8g"),
        # Spark puts the default options ahead of the extra ones on the
        # JVM's command line, and HotSpot keeps the last value of a
        # repeated flag: $SPARK_GRAFT_JVM_OPTS can override a threshold.
        "spark.driver.defaultJavaOptions": C2_THRESHOLDS,
        # Throughput GC: this engine is pure batch — allocation-heavy
        # string/array expressions at 32 concurrent task threads choke
        # Java 17's default G1 (tuned for pause latency, which batch
        # never needs). Measured on the 2.4M-doc quality_frame map at 32
        # cores: 39 s (G1) -> 24 s (ParallelGC). It is not set for
        # executors: on a real cluster the flag goes in the cluster's own
        # spark.executor.extraJavaOptions.
        "spark.driver.extraJavaOptions": os.environ.get(
            "SPARK_GRAFT_JVM_OPTS", "-XX:+UseParallelGC"
        ),
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        # Compiled generated classes are cached by their source text, in an
        # LRU. At sf0.01 one pass of the 116-query registry generates 1303
        # distinct code bodies, perfbench's ten-query dashboard mix about
        # 177. An LRU smaller than a cyclic working set never hits: at
        # Spark's default of 100 every warm dashboard pass ran 164 Janino
        # compiles and the JIT compiled the ~330 new classes anew.
        # 2048 holds the whole registry, so a warm dashboard pass compiles
        # nothing.
        # Static conf: Spark reads it once per JVM, when the first plan is
        # generated, so it is fixed for the JVM's lifetime (a later
        # session or extra_conf on the same JVM does not resize it).
        # Cost: about 10 MB of Metaspace. After one pass of the whole
        # registry at sf0.01 the JVM's Metaspace held 185 MB against 176 MB
        # at 100 entries; peak RSS moved less than run-to-run noise.
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
        # Spark puts this ahead of the process PYTHONPATH on the workers'
        # path, after its own pyspark and py4j zips. Without it a worker
        # (and the daemon below) finds the package only when the driver's
        # cwd or PYTHONPATH holds it.
        "spark.executorEnv.PYTHONPATH": _PACKAGE_PARENT,
        "spark.python.daemon.module": "facturas_spark.worker_daemon",
    }
    # spark-submit starts the driver JVM first and hands its gateway port
    # to this process. A value set on the builder would override its
    # --master (running every task in the driver), its --conf and its
    # spark-defaults.conf, so only keys the launcher left unset are set.
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        SparkContext._ensure_initialized()
        launched = SparkConf()
        conf = {k: v for k, v in conf.items() if not launched.contains(k)}
    conf.update(extra_conf or {})
    return SparkSession.builder.appName(app_name).config(map=conf).getOrCreate()
