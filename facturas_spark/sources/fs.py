"""Object-store-safe commit I/O for ledgers and manifests.

The resume machinery (``io.LineageManifest``, the clean-corpus job's
stage markers) commits tiny JSON marker files. On a laptop ``os.replace``
is fine, but at cluster scale the sink is HDFS or object storage
(s3a://, gs://) where driver-side POSIX calls don't reach. This module
routes those commits through the JVM Hadoop ``FileSystem`` API —
``Path(uri).getFileSystem(hadoopConf)`` — so the SAME code path works
for ``file://`` in the sandbox and ``s3a://``/``hdfs://`` in production
(the FileSystem implementation is chosen by URI scheme from the
cluster's Hadoop configuration).

Commit protocol, per scheme family:

- **Rename-atomic stores** (``file``, ``hdfs``, ``viewfs``, ``o3fs``):
  write ``.name.tmp`` then ``rename`` to the final name — rename is
  atomic, a crash never exposes a half-written marker.
- **Object stores** (``s3a``, ``gs``, ``abfs``, anything else): create
  the final object directly. A single-object PUT is already atomic
  (readers never observe a partial object; the object appears only on
  successful close), while rename on these stores is a non-atomic
  copy+delete — so rename is exactly the wrong primitive there. Marker
  files are immutable-once-present; readers treat name presence as the
  commit signal, which both protocols guarantee.

When no JVM is running (pure-Python unit tests construct a manifest
without a SparkSession) the same protocol falls back to ``os`` calls —
behaviorally identical on the local filesystem.
"""

from __future__ import annotations

import json
import os

__all__ = ["CommitFS"]

# schemes whose rename() is atomic; everything else gets direct-PUT
_RENAME_ATOMIC = {"file", "hdfs", "viewfs", "o3fs", ""}


def _active_spark():
    try:
        from pyspark.sql import SparkSession

        return SparkSession.getActiveSession()
    except Exception:
        return None


class CommitFS:
    """Marker-file directory with object-store-safe commit semantics."""

    def __init__(self, base_dir: str, spark=None) -> None:
        self.base_dir = base_dir
        spark = spark if spark is not None else _active_spark()
        self._jfs = None
        if spark is not None:
            jvm = spark._jvm
            self._jvm = jvm
            self._Path = jvm.org.apache.hadoop.fs.Path
            self._jfs = self._Path(base_dir).getFileSystem(
                spark._jsc.hadoopConfiguration()
            )
            self._scheme = (self._jfs.getScheme() or "").lower()
            self._jfs.mkdirs(self._Path(base_dir))
        else:
            os.makedirs(base_dir, exist_ok=True)

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
