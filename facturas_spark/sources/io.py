"""Sources & sinks (SURVEY §2.1): MIME sniffing, bucketed writes, resume.

- :func:`mime_from_url`      — S2 extension->mimeType expression
  (process-invoice/index.ts:4394-4409: pdf/jpeg/png; files with a
  ``whatsapp_`` name prefix are always jpeg; default pdf).
- :func:`write_bucketed`     — S5 row sink: parquet partitioned by
  ``bucket = xxhash64(url) % N`` (emulates Iceberg ``bucket(N, url)``;
  full-url hashing breaks host skew at the storage layer). Rows are
  clustered by bucket before the write (Iceberg's ``hash``
  write-distribution), so each bucket gets one file rather than one per
  input split.
- :class:`LineageManifest` / :func:`run_with_resume` — S6 processing-state
  machine re-expressed at partition granularity: a JSON ledger of committed
  buckets (rows + metric digest each) plus the bucket count they were
  hashed under; re-runs skip committed buckets and are idempotent. This is
  the north rule's checkpointed-lineage resume.

The one exchange in the sink pays for itself. Without it every scan split
writes its own file into every bucket it touches: splits x buckets files
(64 for 1600 pages in 16 buckets on 4 cores), each with its own output
stream, footer, commit rename and checksum file, and the manifest's digest
read-back then opens all of them. The exchange moves only the extracted
header rows (the html is gone by then, ~0.25 KB/doc), after the single
Python eval, and leaves one file per bucket. Under AQE a rebalance, unlike
a plain repartition, may still split an oversized bucket into files of the
advisory partition size.

At 10^12 docs the manifest is per (bucket, snapshot) — tiny relative to
data — and the write path is overwrite-by-partition, so a mid-job failure
leaves only uncommitted buckets to redo.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

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


def write_bucketed(df: DataFrame, path: str, *, n_buckets: int) -> None:
    """S5: write partitioned by url-hash bucket (dynamic overwrite so a
    re-run replaces exactly the buckets it processed — idempotent), one
    file per bucket."""
    out = with_salt_bucket(df, n_buckets=n_buckets).hint("rebalance", "bucket")
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(path)
    )


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
    ONE job (single scan + single write through :func:`write_bucketed`,
    not a per-bucket loop); commit each processed bucket's manifest entry
    after the write succeeds. Raises ``ValueError`` when ``out_dir`` was
    written with another ``n_buckets``.

    Returns {"processed": [...], "skipped": [...], "rows": n}.
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
    write_bucketed(
        extract_pages_header(todo.select("url", "warc_ts", "html", "text", "lang")),
        os.path.join(out_dir, "extracted"),
        n_buckets=n_buckets,
    )

    # per-bucket stats from what we just wrote -> manifest commits.
    # Scan ONLY this run's buckets (partition-pruned read): digesting the
    # long-committed buckets too would make resume cost grow with total
    # corpus size instead of with the pending work. The digest reads two
    # columns, so their schema is given: with none, Spark first runs a
    # job that infers it from the parquet footers.
    stats_src = spark.read.schema("extracted_text STRING, bucket INT").parquet(
        os.path.join(out_dir, "extracted")
    )
    if done:
        stats_src = stats_src.filter(~F.col("bucket").isin(*done))
    stats = (
        stats_src
        .groupBy("bucket")
        .agg(
            F.count("*").alias("rows"),
            F.md5(
                F.concat_ws(
                    "|", F.sort_array(F.collect_list(F.md5("extracted_text")))
                )
            ).alias("digest"),
        )
        .collect()
    )
    processed = []
    for r in stats:
        if r.bucket in done:
            continue
        manifest.commit(int(r.bucket), int(r.rows), r.digest)
        processed.append(int(r.bucket))
    return {
        "processed": sorted(processed),
        "skipped": sorted(done),
        "rows": sum(int(r.rows) for r in stats if r.bucket not in done),
    }
