"""Structured Streaming ingestion (SURVEY §1.2 / §7: the reference's
``cola_procesamiento`` priority-queue table re-expressed as micro-batches).

The reference processes one document per HTTP invocation with a row state
machine + retry queue (Database_tables:375-415). Here: a file-source stream
over the pages directory, the header-only fused extraction kernel the batch
job runs, an ``availableNow`` trigger (drain-everything-then-stop = the
queue), and a checkpoint directory for exactly-once file tracking — re-runs
pick up only new files, which is the queue's at-least-once retry semantics
without row mutation. ``jobs/extract_job.py --streaming`` runs it.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from facturas_spark.pipeline import extract_pages_header
from facturas_spark.synth import PAGES_SCHEMA_DDL

__all__ = ["stream_extract_pages"]


def stream_extract_pages(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drain all currently-available page files through the extraction
    pipeline and stop (availableNow). Checkpointed: a second call processes
    only files added since the last run."""
    pages = spark.readStream.schema(PAGES_SCHEMA_DDL).format("parquet").load(input_dir)
    q = (
        extract_pages_header(pages).writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
