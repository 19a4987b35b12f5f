"""spark-submit entry point for the extraction pipeline.

Usage (cluster or local):

    C2=$(python -c 'from facturas_spark.session import C2_THRESHOLDS as t; print(t)')
    spark-submit --master <master> --driver-memory 8g \\
        --driver-java-options "-XX:+UseParallelGC $C2" \\
        --py-files facturas_spark.zip \\
        facturas_spark/jobs/extract_job.py \\
        --input /data/pages_parquet --output /data/extracted \\
        --buckets 4096 [--streaming] [--cores 32]

spark-submit starts the driver JVM before ``get_spark`` runs, so the
driver's memory and Java options (``-XX:+UseParallelGC`` and
``session.C2_THRESHOLDS``, which ``get_spark`` sets only for a JVM it
launches itself) must be passed to spark-submit, as above. The session
keeps spark-submit's ``--master`` and every ``--conf`` it passes;
``--cores`` then sets the shuffle partitions only when no ``--conf
spark.sql.shuffle.partitions`` is given. Run as plain ``python`` the
job starts its own ``local[cores]`` JVM with those settings.

Batch mode runs :func:`facturas_spark.sources.io.run_with_resume` — the
checkpointed, per-bucket-resumable job the north rule asks for; re-running
after a failure skips committed buckets. ``--streaming`` instead drains new
files via the availableNow micro-batch path.

Cluster sizing notes (the local defaults mirror these):
- spark.sql.shuffle.partitions ~ 2-3x total executor cores (the extraction
  job's one shuffle clusters the extracted rows by output bucket before the
  write, which AQE coalesces; this mostly covers the downstream
  aggregations).
- spark.sql.files.maxPartitionBytes 128m keeps a scan task's Arrow batches
  comfortably in executor memory at ~1-4 KB/doc.
- AQE on (skew-join + partition coalescing) for the matching/aggregation
  stages.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# local runs invoke this file directly; make the repo root importable
# (under spark-submit --py-files the package zip is already on the path)
_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--input", required=True, help="pages parquet dir")
    parser.add_argument("--output", required=True, help="output dir")
    parser.add_argument("--buckets", type=int, default=256)
    parser.add_argument("--cores", type=int, default=None, help="local-mode cores")
    sink = parser.add_mutually_exclusive_group()
    sink.add_argument("--streaming", action="store_true")
    parser.add_argument(
        "--url-filter",
        action="store_true",
        help="apply the URL-quality rule bank (sources/urlfilter.py: host "
        "blocklist, junk path keywords, tracking-param overload, asset "
        "extensions, oversize) before extraction; not with --streaming "
        "(filter the stream's input feed instead)",
    )
    sink.add_argument(
        "--iceberg-table",
        default=None,
        help="write to this Iceberg table (catalog.db.table) instead of the "
        "bucketed-parquet layout; requires the iceberg-spark-runtime jar "
        "(falls back to --output with a warning when absent)",
    )
    args = parser.parse_args(argv)
    if args.streaming and args.url_filter:
        parser.error("--url-filter is not supported with --streaming")

    from facturas_spark.session import get_spark

    spark = get_spark("facturas-extract-job", cores=args.cores)

    def read_pages():
        pages = spark.read.parquet(args.input)
        if args.url_filter:
            from facturas_spark.sources.urlfilter import url_quality_flags

            flagged = url_quality_flags(pages)
            pages = flagged.filter("url_keep").drop(
                "blocked_host",
                "blocked_path",
                "too_many_params",
                "bad_ext",
                "too_long",
                "url_keep",
            )
        return pages

    if args.streaming:
        from facturas_spark.streaming.stream import stream_extract_pages

        stream_extract_pages(
            spark,
            args.input,
            f"{args.output}/extracted",
            f"{args.output}/_checkpoint",
        )
        result = {"mode": "streaming", "output": f"{args.output}/extracted"}
    elif args.iceberg_table:
        from facturas_spark.pipeline import extract_pages_header
        from facturas_spark.sources.iceberg import (
            create_pages_table,
            iceberg_available,
            write_pages,
        )

        pages = read_pages()
        if iceberg_available(spark, args.iceberg_table.split(".", 1)[0]):
            create_pages_table(spark, args.iceberg_table, n_buckets=args.buckets)
            write_pages(extract_pages_header(pages), args.iceberg_table)
            result = {"mode": "iceberg", "table": args.iceberg_table}
        else:
            print(
                "WARN: no Iceberg runtime on the classpath; "
                "falling back to bucketed parquet",
                file=sys.stderr,
            )
            from facturas_spark.sources.io import run_with_resume

            result = run_with_resume(
                spark, pages, args.output, n_buckets=args.buckets
            )
            result["mode"] = "batch-fallback"
    else:
        from facturas_spark.sources.io import run_with_resume

        pages = read_pages()
        result = run_with_resume(spark, pages, args.output, n_buckets=args.buckets)
        result["mode"] = "batch"

    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
