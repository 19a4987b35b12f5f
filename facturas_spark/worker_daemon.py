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

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip`` and the py4j source zip
first on the workers' path, and ``zipimport`` never caches bytecode: a
daemon that imports pyspark from the zip compiles it from source, about
1 CPU s per daemon against 0.2 s from a pip-installed pyspark's ``.pyc``
files. So before importing anything the daemon moves the zips to the end
of its path when the copy the rest of the path holds is the same release
(its ``version.py`` has the same bytes). The daemon and every forked worker
then run the installed copy; later submodule imports resolve through the
loaded package's ``__path__``, so a worker never mixes the two. An executor
without pip pyspark, or with another release, keeps Spark's order and
imports from the zips as before.

Spark also puts its ``spark-core`` jar on the workers' path (5359 entries,
no Python module). Each task's ``importlib.invalidate_caches()`` re-read
its directory, 0.03 CPU s per task, so the daemon drops every path entry
that is an archive holding no ``.py`` or ``.pyc`` file. Such an entry
cannot satisfy an import with code: ``zipimport`` finds only namespace
package portions in it, one per bare directory (the jar's ``org/`` and
``google/``). With the jar on the path, the stdlib's ``copy`` and
``pickle`` imported ``org`` from it as an empty namespace package in
their Jython probe (``from org.python.core import PyStringMap``), which
fails with or without the jar; the tests pin that no other module a worker
loads is one of those names.

Importing this module (rather than running it) changes nothing.
"""

import gc
import os
import sys
import zipfile
import zipimport


def _spark_zip_package(entry: str) -> str | None:
    """The package a path entry holds if it is one of Spark's zips."""
    name = os.path.basename(entry)
    if name == "pyspark.zip":
        return "pyspark"
    if name.startswith("py4j-") and name.endswith("-src.zip"):
        return "py4j"
    return None


def _version_py(entry: str, package: str) -> bytes | None:
    """Bytes of ``package/version.py`` under a path entry (a directory or
    a zip), or None if the entry does not hold it."""
    try:
        if os.path.isfile(entry):
            return zipimport.zipimporter(entry).get_data(f"{package}/version.py")
        with open(os.path.join(entry, package, "version.py"), "rb") as f:
            return f.read()
    except (ImportError, OSError):
        return None


def prefer_installed_pyspark(path: list[str]) -> None:
    """Move Spark's pyspark and py4j zips to the end of ``path`` if the
    rest of ``path`` finds the same release of both; otherwise leave it."""
    zips = [entry for entry in path if _spark_zip_package(entry)]
    rest = [entry for entry in path if entry not in zips]
    for entry in zips:
        package = _spark_zip_package(entry)
        installed = next((v for e in rest if (v := _version_py(e, package)) is not None), None)
        if installed is None or installed != _version_py(entry, package):
            return
    path[:] = rest + zips


def holds_python(entry: str) -> bool:
    """False only for a path entry that is an archive with no ``.py`` or
    ``.pyc`` member (anything else is left to the import system)."""
    if not os.path.isfile(entry):
        return True
    try:
        with zipfile.ZipFile(entry) as zf:
            return any(name.endswith((".py", ".pyc")) for name in zf.namelist())
    except (OSError, zipfile.BadZipFile):
        return True


if __name__ == "__main__":
    sys.path[:] = [entry for entry in sys.path if holds_python(entry)]
    prefer_installed_pyspark(sys.path)

    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.daemon

    import facturas_spark.extraction.udf  # noqa: F401

    sys.path_importer_cache.clear()
    gc.freeze()
    pyspark.daemon.manager()
