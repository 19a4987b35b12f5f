"""SparkSession factory tuned for the extraction workload.

Local-mode defaults mirror what we'd submit cluster-side via
``spark-submit --py-files`` (AQE on, Arrow on, sane shuffle partitioning,
a generated-code cache that holds the whole query registry).
Parallelism is a parameter: tests run at 4 cores, ``perfbench/run.py`` at
the host's core count, production jobs at ``$SPARK_GRAFT_CPUS``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Entries of Spark's compiled generated-class cache (an LRU; Spark's default
# is 100). See the comment where get_spark sets it.
CODEGEN_CACHE_ENTRIES = 2048


def get_spark(
    app_name: str = "facturas-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or 32. ``shuffle_partitions``
    defaults to ``cores`` — at sf<=0.1 one shuffle partition per core keeps
    every task busy without tiny-partition overhead; on a real cluster this
    is set to ~2-3x total cores (see pipeline.submit notes).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cores

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # big Arrow batches amortize Python-worker round-trips in the
        # extraction UDF; each doc row is small (~1-4 KB text)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # spill-awareness: 128 MB input splits keep one decompressed split
        # + its Arrow batch well inside an executor-core's memory share at
        # any corpus scale (the default, pinned here so a cluster-side
        # override is a conscious choice; raise only with fatter executors)
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # Throughput GC: this engine is pure batch — allocation-heavy
        # string/array expressions at 32 concurrent task threads choke
        # Java 17's default G1 (tuned for pause latency, which batch
        # never needs). Measured on the 2.4M-doc quality_frame map at 32
        # cores: 39 s (G1) -> 24 s (ParallelGC). On a real cluster the
        # same flag goes in spark.executor.extraJavaOptions.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_JVM_OPTS", "-XX:+UseParallelGC"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
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
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
