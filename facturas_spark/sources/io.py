"""Sources & sinks (SURVEY §2.1): MIME sniffing, bucketed writes, resume.

- :func:`mime_from_url`      — S2 extension->mimeType expression
  (process-invoice/index.ts:4394-4409: pdf/jpeg/png; files with a
  ``whatsapp_`` name prefix are always jpeg; default pdf).
- :func:`write_bucketed`     — S5 row sink: parquet partitioned by
  ``bucket = xxhash64(url) % N`` (emulates Iceberg ``bucket(N, url)``;
  full-url hashing breaks host skew at the storage layer). Rows are
  clustered by bucket before the write (Iceberg's ``hash``
  write-distribution), so each bucket gets one file rather than one per
  input split, and the write stage returns each bucket's row count and
  digest.
- :class:`LineageManifest` / :func:`run_with_resume` — S6 processing-state
  machine re-expressed at partition granularity: a JSON ledger of committed
  buckets (rows + metric digest each) plus the bucket count they were
  hashed under; re-runs skip committed buckets and are idempotent. This is
  the north rule's checkpointed-lineage resume.

The one exchange in the sink pays for itself twice. Without it every scan
split writes its own file into every bucket it touches: splits x buckets
files (64 for 1600 pages in 16 buckets on 4 cores), each with its own
output stream, footer, commit rename and checksum file. The exchange moves
only the extracted header rows (the html is gone by then, ~0.25 KB/doc),
after the single Python eval. It is a plain ``repartition`` by bucket:
AQE may merge its reducer partitions but never splits one, so each bucket
sits whole in one write task and leaves one file. That same gather is
all the manifest digest needs, so a pass-through tap in the write stage
takes each bucket's row count and digest as its rows go by, and the
manifest commits them when the write returns: a run is the write's job
graph alone, with no second query reading back the files it just wrote.

At 10^12 docs the manifest is per (bucket, snapshot) — tiny relative to
data — and the write path is overwrite-by-partition, so a mid-job failure
leaves only uncommitted buckets to redo.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

from pyspark.accumulators import AccumulatorParam
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from facturas_spark.pipeline import extract_pages_header, with_salt_bucket

__all__ = ["mime_from_url", "write_bucketed", "LineageManifest", "run_with_resume"]

_LAYOUT = "layout.json"


def mime_from_url(url: Column) -> Column:
    """S2 MIME sniffing as a pure column expression."""
    filename = F.element_at(F.split(url, "/"), -1)
    lower = F.lower(filename)
    return (
        F.when(lower.startswith("whatsapp_"), "image/jpeg")
        .when(lower.endswith(".pdf"), "application/pdf")
        .when(lower.endswith(".jpg") | lower.endswith(".jpeg"), "image/jpeg")
        .when(lower.endswith(".png"), "image/png")
        .otherwise("application/pdf")
    )


class _ByBucket(AccumulatorParam):
    """Driver accumulator of ``{bucket: (rows, digest)}`` merged by key.

    Spark may apply an update made in a transformation more than once
    (a retried fetch, speculation, a recomputed stage); a duplicate here
    carries the same deterministic value under the same key, so merging
    by key is idempotent. A failed task attempt's update is never merged."""

    def zero(self, value: dict) -> dict:
        return {}

    def addInPlace(self, acc: dict, update: dict) -> dict:
        acc.update(update)
        return acc


def _bucket_digests(acc):
    """The write stage's pass-through ``mapInArrow`` tap: yields every
    batch unchanged and, when its task's input ends, adds
    ``{bucket: (rows, md5("|".join(sorted(md5(extracted_text)))))}`` for
    the buckets it saw to ``acc``. Null texts count as rows but add no
    hash, as ``collect_list(md5(...))`` skips them."""

    def tap(batches):
        rows: dict[int, int] = {}
        hashes: dict[int, list[str]] = {}
        for batch in batches:
            buckets = batch.column("bucket").to_pylist()
            texts = batch.column("extracted_text").to_pylist()
            for b, text in zip(buckets, texts):
                rows[b] = rows.get(b, 0) + 1
                hs = hashes.setdefault(b, [])
                if text is not None:
                    hs.append(hashlib.md5(text.encode()).hexdigest())
            yield batch
        acc.add({
            b: (n, hashlib.md5("|".join(sorted(hashes[b])).encode()).hexdigest())
            for b, n in rows.items()
        })

    return tap


def write_bucketed(df: DataFrame, path: str, *, n_buckets: int) -> dict[int, tuple[int, str]]:
    """S5: write partitioned by url-hash bucket (dynamic overwrite so a
    re-run replaces exactly the buckets it processed — idempotent), one
    file per bucket. ``df`` carries ``extracted_text``; returns
    ``{bucket: (rows, digest)}`` for every bucket the write produced,
    taken in the write stage itself."""
    written = df.sparkSession.sparkContext.accumulator({}, _ByBucket())
    out = with_salt_bucket(df, n_buckets=n_buckets).repartition("bucket")
    (
        out.mapInArrow(_bucket_digests(written), out.schema)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(path)
    )
    return dict(written.value)


@dataclass
class LineageManifest:
    """Committed-bucket ledger: one JSON marker per committed bucket under
    ``<dir>/_manifest/bucket=<k>.json`` with rows + metric digest, and
    ``layout.json`` with the bucket count they were hashed under.

    I/O goes through :class:`facturas_spark.sources.fs.CommitFS`: ``os``
    calls in the driver on local storage, with or without a JVM, and the
    JVM Hadoop FileSystem API on ``hdfs://``/``s3a://`` and the like
    (rename commit where rename is atomic, direct single-object PUT where
    it is not), each with the same crash-safety contract."""

    manifest_dir: str

    def __post_init__(self) -> None:
        from facturas_spark.sources.fs import CommitFS

        self._fs = CommitFS(self.manifest_dir)

    def committed(self) -> dict[int, dict]:
        out = {}
        for name in self._fs.list_names():
            if name.startswith("bucket=") and name.endswith(".json"):
                entry = self._fs.read_json(name)
                out[int(entry["bucket"])] = entry
        return out

    def commit(self, bucket: int, rows: int, digest: str) -> None:
        entry = {"bucket": bucket, "rows": rows, "digest": digest}
        self._fs.write_json(f"bucket={bucket}.json", entry)

    def pin_layout(self, n_buckets: int) -> None:
        """Record ``n_buckets`` on first use; raise ``ValueError`` when a
        rerun asks for another count. A committed bucket's number means
        nothing under another modulus: skipping it would skip the wrong
        urls and write the rest a second time."""
        if _LAYOUT not in self._fs.list_names():
            self._fs.write_json(_LAYOUT, {"n_buckets": n_buckets})
            return
        pinned = int(self._fs.read_json(_LAYOUT)["n_buckets"])
        if pinned != n_buckets:
            raise ValueError(
                f"{self.manifest_dir} was written with n_buckets={pinned}; "
                f"a rerun with n_buckets={n_buckets} would duplicate rows"
            )


def run_with_resume(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    *,
    n_buckets: int,
) -> dict:
    """Extraction with per-bucket checkpointed resume (S6 semantics).

    Plan: bucket the input by url hash; skip buckets already in the
    manifest; run the fused header extraction on the remaining buckets in
    ONE job graph (single scan + single write through
    :func:`write_bucketed`, not a per-bucket loop); after the write
    succeeds, commit the ``(rows, digest)`` its write stage took for each
    bucket it wrote. Raises ``ValueError`` when ``out_dir`` was written
    with another ``n_buckets``.

    Returns {"processed": [...], "skipped": [...], "rows": n}, where
    ``processed`` and ``rows`` cover only the buckets this run wrote.
    """
    manifest = LineageManifest(os.path.join(out_dir, "_manifest"))
    manifest.pin_layout(n_buckets)
    done = set(manifest.committed())

    todo = with_salt_bucket(pages, n_buckets=n_buckets)
    if done:
        todo = todo.filter(~F.col("bucket").isin(*done))

    # bucket is a pure function of url: write_bucketed recomputes it after
    # extraction instead of carrying it through the Python eval; its
    # exchange comes after the eval, so it moves extracted rows, not html
    written = write_bucketed(
        extract_pages_header(todo.select("url", "warc_ts", "html", "text", "lang")),
        os.path.join(out_dir, "extracted"),
        n_buckets=n_buckets,
    )
    for b in sorted(written):
        manifest.commit(b, *written[b])
    return {
        "processed": sorted(written),
        "skipped": sorted(done),
        "rows": sum(rows for rows, _ in written.values()),
    }
