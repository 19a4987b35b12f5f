"""Arrow-batched pandas UDFs wrapping the deterministic parser core.

These are the only Python hot-path entry points in the engine; everything
else is built-in Spark SQL expressions. Each UDF receives Arrow record
batches (``spark.sql.execution.arrow.maxRecordsPerBatch`` rows at a time),
loops in-process over precompiled regexes, and returns a whole batch — no
per-row Spark round-trips (per-row Python UDFs are banned by the north rule).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DateType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from facturas_spark.extraction.boilerplate import extract_main_text
from facturas_spark.extraction.products import extract_products
from facturas_spark.extraction.textparse import classify_document, extract_fields

__all__ = [
    "EXTRACTED_SCHEMA",
    "PRODUCT_SCHEMA",
    "HEADER_SCHEMA",
    "FULL_SCHEMA",
    "extract_batch",
    "extract_batch_header",
    "extract_doc_udf",
    "extract_header_udf",
]

EXTRACTED_SCHEMA = StructType(
    [
        StructField("proveedor_nombre", StringType()),
        StructField("proveedor_cif", StringType()),
        StructField("numero_factura", StringType()),
        StructField("fecha_factura", DateType()),
        StructField("total_factura", DoubleType()),
        StructField("base_imponible", DoubleType()),
        StructField("cuota_iva", DoubleType()),
        StructField("tipo_iva", IntegerType()),
        StructField("confianza_global", DoubleType()),
        StructField("confianza_proveedor", DoubleType()),
        StructField("confianza_datos_fiscales", DoubleType()),
        StructField("confianza_importes", DoubleType()),
    ]
)

PRODUCT_SCHEMA = StructType(
    [
        StructField("linea_numero", IntegerType()),
        StructField("descripcion_original", StringType()),
        StructField("descripcion_normalizada", StringType()),
        StructField("cantidad", DoubleType()),
        StructField("unidad_medida", StringType()),
        StructField("codigo_producto", StringType()),
        StructField("precio_unitario_sin_iva", DoubleType()),
        StructField("precio_unitario_con_iva", DoubleType()),
        StructField("precio_total_linea_sin_iva", DoubleType()),
        StructField("precio_total_linea_con_iva", DoubleType()),
        StructField("tipo_iva", IntegerType()),
        StructField("confianza_linea", DoubleType()),
        StructField("formato_comercial", StringType()),
        StructField("peso_neto_kg", DoubleType()),
        StructField("volumen_l", DoubleType()),
        StructField("formato_valido", BooleanType()),
        StructField("precio_por_kg", DoubleType()),
        StructField("precio_por_litro", DoubleType()),
        StructField("categoria", StringType()),
    ]
)

_PRODUCT_COLS = [f.name for f in PRODUCT_SCHEMA.fields]


# The fused per-document kernel: ONE Python eval node for the whole doc
# pipeline. Chained dependent pandas UDFs each become a separate
# PythonEvalExec with its own worker per task — at 32 tasks x 4 chained UDFs
# that's 128 concurrent Python workers and 4 Arrow round-trips per row.
# Fusing keeps it at one worker per task and one Arrow transfer.
HEADER_SCHEMA = StructType(
    [
        StructField("extracted_text", StringType()),
        StructField("tipo_documento", StringType()),
        StructField("confianza_clasificacion", DoubleType()),
        *EXTRACTED_SCHEMA.fields,
    ]
)
FULL_SCHEMA = StructType(
    [*HEADER_SCHEMA.fields, StructField("productos", ArrayType(PRODUCT_SCHEMA))]
)
_HEADER_COLS = HEADER_SCHEMA.fieldNames()
_FULL_COLS = FULL_SCHEMA.fieldNames()


def extract_batch(html, text, products: bool = True) -> pd.DataFrame:
    """The fused per-batch kernel (shared by the pandas UDFs and the
    accumulator-instrumented mapInPandas path): boilerplate strip ->
    classify -> field extraction -> line-item extraction.

    ``products=False`` skips the line items and returns the
    :data:`HEADER_SCHEMA` columns; every other column is the same."""
    rows = []
    for h, t in zip(html, text):
        doc_text = t if isinstance(t, str) and t else extract_main_text(h)
        tipo, conf, _ = classify_document(doc_text)
        f = extract_fields(doc_text)
        row = (
            doc_text,
            tipo,
            conf,
            f.proveedor_nombre,
            f.proveedor_cif,
            f.numero_factura,
            f.fecha_factura,
            f.total_factura,
            f.base_imponible,
            f.cuota_iva,
            f.tipo_iva,
            f.confianza_global,
            f.confianza_proveedor,
            f.confianza_datos_fiscales,
            f.confianza_importes,
        )
        if products:
            prods = extract_products(doc_text, f.tipo_iva)
            row += ([tuple(map(p.get, _PRODUCT_COLS)) for p in prods],)
        rows.append(row)
    return pd.DataFrame(rows, columns=_FULL_COLS if products else _HEADER_COLS)


def extract_batch_header(html, text) -> pd.DataFrame:
    """Fused header kernel: :func:`extract_batch` without line items."""
    return extract_batch(html, text, products=False)


@pandas_udf(FULL_SCHEMA)
def extract_doc_udf(html: pd.Series, text: pd.Series) -> pd.DataFrame:
    """Fused doc pipeline: one Python pass per Arrow batch."""
    return extract_batch(html, text)


# Header-only variant: the header pipelines (extract_pages and the S5/S6
# sink in sources.io) never read ``productos``, but the full UDF still
# computes the line items (``extraction.udf.products_share`` in a traced
# ingest run: 0.41-0.58 of kernel time) and ships the nested
# array<struct> back through Arrow — whose ColumnVector->UnsafeRow copy
# dominated the JVM side of the job. Computing only what the job consumes
# cut the sf0.1 bench wall ~2x.
@pandas_udf(HEADER_SCHEMA)
def extract_header_udf(html: pd.Series, text: pd.Series) -> pd.DataFrame:
    """Fused header pipeline: one Python pass per Arrow batch, no
    line-item computation or transfer."""
    return extract_batch_header(html, text)
