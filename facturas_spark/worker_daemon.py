"""Python worker daemon that forks workers with the kernel already imported.

``get_spark`` names this module in ``spark.python.daemon.module``. Spark's
own daemon (``pyspark.daemon``) imports only ``pyspark.worker``, so every
forked worker imported pandas, pyarrow and the extraction kernel itself.
Importing them here once lets every worker inherit them through ``fork``.
Before the first fork the daemon also drops its import-path cache, so a
worker holds only the zip importers it needs (each task's
``importlib.invalidate_caches()`` re-reads a zip's directory once per
importer), and freezes the GC, so the per-task ``gc.collect()`` in the
daemon's worker loop skips the import-time objects.
"""

import gc
import sys

import pandas  # noqa: F401
import pyarrow  # noqa: F401

import facturas_spark.extraction.udf  # noqa: F401

if __name__ == "__main__":
    import pyspark.daemon

    sys.path_importer_cache.clear()
    gc.freeze()
    pyspark.daemon.manager()
