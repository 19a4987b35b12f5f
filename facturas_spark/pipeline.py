"""End-to-end extraction pipeline over a Common-Crawl-style ``pages`` table.

One declarative plan, Catalyst-optimizable end to end:

    pages(url, warc_ts, html, text, lang)
      -> main-content text            (Arrow UDF, only where text is null)
      -> classify factura/albaran     (Arrow UDF)
      -> field extraction struct      (Arrow UDF)
      -> flat typed columns           (built-in projections)

Scale notes (the part that matters at 10^12 docs):
- The three UDFs run in a single stage: no shuffle between them — Spark
  pipelines the projections over the same Arrow batches. Input partitioning
  is preserved from the scan; there is NO shuffle in this job at all.
- Skewed hosts do not skew this stage (extraction is per-row, cost scales
  with bytes not keys). Skew matters for the downstream joins/aggregations,
  handled in analytics/matching via AQE + salting (see matching/cotejo.py).
- ``salt_bucket`` derives the write-side bucket: hash(url) mod n_buckets —
  the Iceberg ``bucket(N, url)`` layout from SURVEY §2.1 S5, emulated with
  parquet partitioning in this sandbox.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from facturas_spark.extraction.udf import extract_doc_udf, extract_header_udf

__all__ = [
    "extract_pages_full",
    "extract_pages_header",
    "extract_pages",
    "extract_products_table",
    "with_salt_bucket",
    "extraction_metrics",
]


def extract_pages_full(pages: DataFrame) -> DataFrame:
    """Run the full extraction over a pages DataFrame — ONE fused Arrow UDF
    (boilerplate strip -> classify -> fields -> line items), one Python eval
    node, zero shuffles.

    Returns one row per input page: url, warc_ts, lang, extracted_text,
    tipo_documento, confianza_clasificacion, the 12 field columns, and the
    ``productos`` array<struct> (explode via extract_products_table)."""
    return pages.withColumn(
        "_d", extract_doc_udf(F.col("html"), F.col("text"))
    ).select("url", "warc_ts", "lang", F.col("_d.*"))


def extract_pages_header(pages: DataFrame) -> DataFrame:
    """:func:`extract_pages_full` without the ``productos`` column.

    Uses the header-only fused UDF rather than extract_pages_full().drop():
    dropping ``productos`` after the UDF still paid for the line-item
    extraction in Python AND the nested array's Arrow transfer + UnsafeRow
    conversion in the JVM — ~2x the wall clock of this job at sf0.1."""
    return pages.withColumn(
        "_d", extract_header_udf(F.col("html"), F.col("text"))
    ).select("url", "warc_ts", "lang", F.col("_d.*"))


def extract_pages(pages: DataFrame) -> DataFrame:
    """Header-fields pipeline (no product array), plus the C2 review gate:
    confianza < 0.8 flags the document for manual review — processing
    continues (process-invoice/index.ts:4649-4696)."""
    return extract_pages_header(pages).withColumn(
        "requiere_revision", F.col("confianza_global") < 0.8
    )


def extract_pages_instrumented(spark, pages: DataFrame):
    """Accumulator-instrumented extraction (north rule: accumulator-backed
    extraction metrics): same fused kernel via mapInPandas, incrementing
    live counters per Arrow batch — visible on the driver while the job
    runs, unlike the declarative :func:`extraction_metrics` (which remains
    the exact, recomputable source of truth).

    Returns (DataFrame, accumulators dict). Accumulator values are
    task-at-least-once semantics (Spark retries may double-count) — use for
    monitoring, not correctness.
    """
    from facturas_spark.extraction.udf import FULL_SCHEMA, extract_batch

    acc = {
        "docs": spark.sparkContext.accumulator(0),
        "cif_hits": spark.sparkContext.accumulator(0),
        "review_flagged": spark.sparkContext.accumulator(0),
    }

    def batches(it):
        for pdf in it:
            out = extract_batch(pdf["html"], pdf["text"])
            out.insert(0, "url", pdf["url"].values)
            acc["docs"].add(len(out))
            acc["cif_hits"].add(int(out["proveedor_cif"].notna().sum()))
            acc["review_flagged"].add(int((out["confianza_global"] < 0.8).sum()))
            yield out

    schema = "url string, " + ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in FULL_SCHEMA.fields
    )
    return pages.mapInPandas(batches, schema=schema), acc


def extract_products_table(extracted_full: DataFrame) -> DataFrame:
    """Line-item child table: posexplode of the per-doc product array
    (SURVEY §2.4). Input is :func:`extract_pages_full` output (carries the
    ``productos`` column); one row per product line, still shuffle-free."""
    return (
        extracted_full.select(
            "url",
            "tipo_documento",
            F.posexplode_outer("productos").alias("_pos", "producto"),
        )
        .select("url", "tipo_documento", F.col("producto.*"))
        .filter(F.col("linea_numero").isNotNull())
    )


def with_salt_bucket(df: DataFrame, *, n_buckets: int, url_col: str = "url") -> DataFrame:
    """Write-side bucket column: xxhash64(url) mod n_buckets.

    Emulates Iceberg ``bucket(N, url)`` partitioning; hashing the full url
    (not the host) breaks host-level skew at the storage layer — a hot host's
    pages spread uniformly over all buckets.
    """
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_buckets)).cast("int")
    )


def extraction_metrics(extracted: DataFrame) -> DataFrame:
    """Accumulator-style extraction metrics as one aggregate row per lang:
    doc counts, field hit-rates, mean confidence. Single shuffle (groupBy)."""
    return extracted.groupBy("lang").agg(
        F.count("*").alias("docs"),
        F.sum(F.when(F.col("proveedor_cif").isNotNull(), 1).otherwise(0)).alias("cif_hits"),
        F.sum(F.when(F.col("numero_factura") != "SIN_NUMERO", 1).otherwise(0)).alias("numero_hits"),
        F.sum(F.when(F.col("fecha_factura").isNotNull(), 1).otherwise(0)).alias("fecha_hits"),
        F.sum(F.when(F.col("total_factura") > 0, 1).otherwise(0)).alias("total_hits"),
        F.avg("confianza_global").alias("avg_confianza"),
        F.sum(F.when(F.col("tipo_documento") == "albaran", 1).otherwise(0)).alias("albaranes"),
    )
