"""End-to-end extraction pipeline over a Common-Crawl-style ``pages`` table.

One declarative plan, Catalyst-optimizable end to end:

    pages(url, warc_ts, html, text, lang)
      -> one fused Arrow UDF per batch (main-content text where text is
         null -> classify factura/albaran -> field extraction -> line
         items, in the full variant only)
      -> flat typed columns           (built-in projections)

Scale notes (the part that matters at 10^12 docs):
- The fused UDF is one Python eval node in one stage, pipelined with the
  projections over the same Arrow batches. Input partitioning is preserved
  from the scan; extraction itself has no shuffle. The bucketed sink
  (``sources.io.write_bucketed``) adds one exchange after the eval, a
  repartition by bucket that moves extracted rows, not html, and leaves
  each bucket whole in one write task: one file per bucket, and a
  pass-through Arrow tap there takes each bucket's row count and digest
  for the resume manifest as the rows go by.
- Skewed hosts do not skew this stage (extraction is per-row, cost scales
  with bytes not keys). Skew matters for the downstream joins/aggregations,
  handled in analytics/matching via AQE skew-join (see matching/cotejo.py).
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
