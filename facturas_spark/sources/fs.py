"""Object-store-safe commit I/O for ledgers and manifests.

The resume machinery (``io.LineageManifest``, the clean-corpus job's
stage markers) commits tiny JSON marker files. At cluster scale the sink
is HDFS or object storage (s3a://, gs://), which driver-side POSIX calls
don't reach. With a session up, :class:`CommitFS` resolves the base dir's
Hadoop ``FileSystem`` once — ``Path(uri).getFileSystem(hadoopConf)``, so
a scheme-less path follows the cluster's ``fs.defaultFS`` — and picks one
route for every operation:

- **Local storage** (scheme ``file``): ``os`` calls in the driver. A
  ``file:`` URI base dir maps to its local path. Hadoop's local
  ``FileSystem`` would cost a py4j round trip per call plus, without the
  native library, a forked ``chmod`` for every file it creates (the
  marker's tmp file and its ``.crc``).
- **Rename-atomic stores** (``hdfs``, ``viewfs``, ``o3fs``): the JVM
  ``FileSystem``; write ``.name.tmp`` then ``rename`` to the final name.
- **Object stores** (``s3a``, ``gs``, ``abfs``, anything else): the JVM
  ``FileSystem``; create the final object directly. A single-object PUT
  is already atomic (readers never observe a partial object; the object
  appears only on successful close), while rename on these stores is a
  non-atomic copy+delete — so rename is exactly the wrong primitive there.

With no session (pure-Python callers) the base dir is local and takes the
local route. The local route keeps the rename protocol: write
``.name.tmp`` then ``os.replace``, so a crash never exposes a half-written
marker. Marker files are immutable-once-present; readers treat name
presence as the commit signal, which every route guarantees.
"""

from __future__ import annotations

import json
import os
from urllib.parse import unquote, urlparse

__all__ = ["CommitFS"]

# JVM schemes whose rename() is atomic; every other non-local one gets
# direct-PUT
_RENAME_ATOMIC = {"hdfs", "viewfs", "o3fs"}


def _active_spark():
    try:
        from pyspark.sql import SparkSession

        return SparkSession.getActiveSession()
    except Exception:
        return None


def _local_path(base_dir: str) -> str:
    """``base_dir`` as a path ``os`` understands: a ``file:`` URI's path,
    anything else as given."""
    uri = urlparse(base_dir)
    return unquote(uri.path) if uri.scheme == "file" else base_dir


class CommitFS:
    """Marker-file directory with object-store-safe commit semantics."""

    def __init__(self, base_dir: str, spark=None) -> None:
        self.base_dir = base_dir
        spark = spark if spark is not None else _active_spark()
        self._jfs = None
        if spark is not None:
            Path = spark._jvm.org.apache.hadoop.fs.Path
            jfs = Path(base_dir).getFileSystem(spark._jsc.hadoopConfiguration())
            scheme = (jfs.getScheme() or "").lower()
            if scheme != "file":
                self._jvm, self._Path, self._jfs, self._scheme = spark._jvm, Path, jfs, scheme
                jfs.mkdirs(Path(base_dir))
                return
        self.base_dir = _local_path(base_dir)
        os.makedirs(self.base_dir, exist_ok=True)

    # -- primitives ------------------------------------------------------
    def _p(self, name: str):
        return self._Path(self.base_dir.rstrip("/") + "/" + name)

    def list_names(self) -> list[str]:
        if self._jfs is None:
            return os.listdir(self.base_dir)
        p = self._Path(self.base_dir)
        if not self._jfs.exists(p):
            return []
        return [st.getPath().getName() for st in self._jfs.listStatus(p)]

    def read_text(self, name: str) -> str:
        if self._jfs is None:
            with open(os.path.join(self.base_dir, name)) as f:
                return f.read()
        stream = self._jfs.open(self._p(name))
        try:
            # one py4j round-trip for the whole file (commons-io ships
            # with Spark)
            data = self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            return bytes(data).decode("utf-8")
        finally:
            stream.close()

    def write_commit(self, name: str, text: str) -> None:
        """Durably publish ``name`` with ``text``; safe against crashes at
        any point (see module docstring for the per-scheme protocol)."""
        if self._jfs is None:
            tmp = os.path.join(self.base_dir, f".{name}.tmp")
            final = os.path.join(self.base_dir, name)
            with open(tmp, "w") as f:
                f.write(text)
            # a checksum Hadoop's local FileSystem wrote for an earlier
            # marker would fail a checksummed read of the new one; drop
            # it before the new marker becomes visible
            try:
                os.remove(os.path.join(self.base_dir, f".{name}.crc"))
            except FileNotFoundError:
                pass
            os.replace(tmp, final)
            return
        data = text.encode("utf-8")
        if self._scheme in _RENAME_ATOMIC:
            tmp = self._p(f".{name}.tmp")
            out = self._jfs.create(tmp, True)
            try:
                out.write(data)
            finally:
                out.close()
            # clobber a stale final marker first: HDFS rename-onto-existing
            # fails instead of replacing (POSIX replaces); commit markers
            # are idempotent re-writes so delete-then-rename is safe
            final = self._p(name)
            if self._jfs.exists(final):
                self._jfs.delete(final, False)
            if not self._jfs.rename(tmp, final):
                raise IOError(f"rename {tmp} -> {final} failed")
        else:
            out = self._jfs.create(self._p(name), True)
            try:
                out.write(data)
            finally:
                out.close()

    # -- json convenience ------------------------------------------------
    def write_json(self, name: str, obj) -> None:
        self.write_commit(name, json.dumps(obj))

    def read_json(self, name: str):
        return json.loads(self.read_text(name))
