"""The SQL analytics surface (SURVEY §2.6 Q1-Q15) + text-analytics operators.

Every function takes ``(spark, sf_dir)`` and returns a DataFrame; each has a
DuckDB oracle twin in ``__spark_entry__.oracle_sql()``. Column aliases match
the oracle SQL exactly (the driver compares sorted-by-name value hashes).

Queries are written Spark-first: built-in functions only (whole-stage
codegen), broadcast hints for dim joins, single-shuffle aggregations.
Reference citations per query are in each docstring.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from facturas_spark.analytics.cache import table_scan as _t
from facturas_spark.extraction.dashboard_calc import (
    _HUEVOS,
    _LIQUIDO,
    _PACK,
    _PESO,
    _TYPE_RULES,
    _UNIDADES,
    _VINO,
)
from facturas_spark.extraction.products import (
    _CODE_PATTERNS,
    _PRICE_PATTERNS,
    _QTY_PATTERNS,
    _UNIT_PATTERNS,
)
from facturas_spark.extraction.textparse import (
    _ALBARAN_KEYWORDS,
    _DMY,
    _ENTREGA_INDICATORS,
    _FACTURA_KEYWORDS,
    _LEADING_KEYWORD_1,
    _LETTERS,
    _ONLY_DIGITS,
    _PAT_BASE,
    _PAT_CIF,
    _PAT_CUOTA,
    _PAT_NUMERO,
    _PAT_TIPO,
    _PAT_TOTAL,
    _PRICE_SHAPE,
)
from facturas_spark.matching.context import _CIF_SCAN


def _rx(p: re.Pattern[str]) -> str:
    """A kernel's compiled pattern as the Java regex the columnar form
    runs: its source, behind ``(?i)`` when it was compiled IGNORECASE.
    The kernel table is the rule's only definition; the DuckDB twins keep
    their own copies, so a wrong rendering fails the oracle."""
    return ("(?i)" if p.flags & re.IGNORECASE else "") + p.pattern


def _r(c, n: int = 2):
    """JS Math.round at n decimals (floor(x*10^n + 0.5)/10^n) — identical
    IEEE-double result in Spark and DuckDB, unlike HALF_UP vs HALF_EVEN
    ``round`` which disagree on .xx5 ties."""
    m = 10 ** n
    return F.floor(c * m + F.lit(0.5)) / m


def _cents(c) -> "F.Column":
    """Exact cent value (BIGINT) of a 2dp-money-as-double column. Every
    money column in the corpus is a 2dp value stored as double (max
    representation error ~4e-9 cents), so decimal(18,2) half-up recovers
    the exact cents — the foundation of order-independent aggregation:
    float SUM/AVG depend on summation order (partitioning), integer sums
    don't. DuckDB twin: CAST(x * 100 AS BIGINT) (round-to-nearest)."""
    return (c.cast("decimal(18,2)") * 100).cast("long")


def _rev_e4():
    """Net line revenue in exact 1e-4-euro units: price_cents x
    (100 - discount_pct). l_discount is a 2dp fraction, so the revenue
    l_extendedprice*(1-l_discount) is an exact rational with denominator
    10^4 — summable as BIGINT with zero error."""
    return _cents(F.col("l_extendedprice")) * (
        100 - _cents(F.col("l_discount"))
    )


# ---------------------------------------------------------------- Q1 ----
def q01_daily_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily sales view (ref migrations/2024_01_01_init_sales_dashboard.sql:77-87):
    GROUP BY day: count, sum, avg, ordered desc by day."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.to_date("ts").alias("fecha"))
        .agg(
            F.count("*").alias("num_eventos"),
            F.sum(_cents(F.col("value"))).alias("_c"),
        )
        .withColumn("total_valor", F.expr("CAST(_c AS DOUBLE) / 100.0"))
        .withColumn(
            "valor_medio",
            F.expr("CAST((2 * _c + num_eventos) div (2 * num_eventos) AS DOUBLE) / 100.0"),
        )
        .select("fecha", "num_eventos", "total_valor", "valor_medio")
        .orderBy(F.col("fecha").desc())
    )


# ---------------------------------------------------------------- Q2/Q6 -
def q02_top_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 products (ref sql:89-101 + get-dashboard-data/index.ts:205-278):
    lineitem joined to the part dim (broadcast — dim is tiny), grouped by
    product name: sum qty, sum revenue, distinct orders; top 10.

    Round 8: fanned scan (guide §2.5) — single-row-group lineitem ran the
    broadcast join + countDistinct Expand + partial agg in ONE task;
    measured 1.29 -> 0.81 s at sf0.1, neutral at well-split scales (gate)."""
    li = _t(spark, sf_dir, "lineitem", fan_key="l_partkey")
    part = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_name")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("total_cantidad"),
            F.sum(_rev_e4()).alias("_r4"),
            F.countDistinct("l_orderkey").alias("num_pedidos"),
        )
        # exact half-up 2dp of the 1e-4-unit revenue sum (order-independent)
        .withColumn(
            "total_importe", F.expr("CAST((2 * _r4 + 100) div 200 AS DOUBLE) / 100.0")
        )
        .select("p_name", "total_cantidad", "total_importe", "num_pedidos")
        .orderBy(F.col("total_importe").desc(), F.col("p_name"))
        .limit(10)
    )


# ---------------------------------------------------------------- Q3 ----
def q03_dashboard_resumen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dashboard summary with period-over-period growth
    (ref get-dashboard-data/index.ts:71-124): two filtered aggregates over
    fixed adjacent windows + growth pct. Single scan via conditional agg —
    no self-join, no second pass."""
    orders = _t(spark, sf_dir, "orders")
    cur = (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1995-07-01")
    prev = (F.col("o_orderdate") >= "1994-07-01") & (F.col("o_orderdate") < "1995-01-01")
    cents = _cents(F.col("o_totalprice"))
    return (
        orders.agg(
            F.sum(F.when(cur, cents)).alias("_s1"),
            F.count(F.when(cur, 1)).alias("pedidos_periodo"),
            F.sum(F.when(prev, cents)).alias("_s2"),
        )
        .withColumn("ventas_periodo", F.expr("CAST(_s1 AS DOUBLE) / 100.0"))
        .withColumn(
            "ticket_medio",
            F.expr(
                "CAST((2 * _s1 + pedidos_periodo) div (2 * pedidos_periodo) AS DOUBLE) / 100.0"
            ),
        )
        .withColumn("ventas_anterior", F.expr("CAST(_s2 AS DOUBLE) / 100.0"))
        # growth can be negative: JS-round (floor(x*100+0.5)) of a double
        # derived from the two EXACT sums — both engines compute the
        # identical double, so the floor is identical too
        .withColumn(
            "crecimiento_pct",
            F.expr(
                "FLOOR(CAST(_s1 - _s2 AS DOUBLE) / CAST(_s2 AS DOUBLE) * 100 * 100 + 0.5) / 100"
            ),
        )
        .select(
            "ventas_periodo", "pedidos_periodo", "ticket_medio",
            "ventas_anterior", "crecimiento_pct",
        )
    )


# ---------------------------------------------------------------- Q4 ----
def q04_payment_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-bucketed pivot (ref get-dashboard-data/index.ts:147-162):
    event_type buckets -> per-bucket totals."""
    ev = _t(spark, sf_dir, "events")
    bucket = (
        F.when(F.col("event_type").isin("purchase", "refund"), "monetario")
        .when(F.col("event_type").isin("signup", "login"), "cuenta")
        .otherwise("otro")
    )
    return (
        ev.groupBy(bucket.alias("categoria"))
        .agg(
            F.count("*").alias("eventos"),
            F.sum(_cents(F.col("value"))).alias("_c"),
        )
        .withColumn("total_valor", F.expr("CAST(_c AS DOUBLE) / 100.0"))
        .select("categoria", "eventos", "total_valor")
        .orderBy("categoria")
    )


# ---------------------------------------------------------------- Q7 ----
def q07_category_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Category spend share (ref get-dashboard-data/index.ts:291-319):
    per-category revenue + pct of grand total. The grand total is a scalar
    agg broadcast-cross-joined back in, NOT an unpartitioned window — a
    ``Window.partitionBy()`` would exchange the (tiny) agg result to a
    single partition and trips the WindowExec scale warning; the broadcast
    keeps every exchange partial-agg-sized at any data scale."""
    # round 8: fan A/B'd and NOT applied — the serial partial agg here is
    # cheap (no Expand), so the 600k-row fan shuffle lost (ratio 1.23)
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    agg = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_type")
        .agg(F.sum(_rev_e4()).alias("_imp"))
    )
    total = agg.agg(F.sum("_imp").alias("_tot"))
    return (
        agg.crossJoin(F.broadcast(total))
        .select(
            "p_type",
            F.expr("CAST((2 * _imp + 100) div 200 AS DOUBLE) / 100.0").alias("importe"),
            # share of exact integer sums -> identical double both engines
            F.expr(
                "FLOOR(CAST(_imp AS DOUBLE) / CAST(_tot AS DOUBLE) * 100 * 100 + 0.5) / 100"
            ).alias("pct_total"),
        )
        .orderBy(F.col("importe").desc(), "p_type")
    )


# ---------------------------------------------------------------- Q9 ----
def q09_purchase_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase frequency per product (ref consulta_historial_completo.sql:21-33):
    count, first/last date, day span, total qty."""
    # round 8: fan A/B'd and NOT applied — the partial agg collapses 600k
    # rows to 20k before the only exchange; fanning shuffled the raw rows
    # instead and lost (ratio 1.61)
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(
            F.count("*").alias("num_compras"),
            F.to_date(F.min("l_shipdate")).alias("primera_compra"),
            F.to_date(F.max("l_shipdate")).alias("ultima_compra"),
            F.datediff(F.max("l_shipdate"), F.min("l_shipdate")).alias("dias_periodo"),
            F.round(F.sum("l_quantity"), 2).alias("cantidad_total"),
        )
        .orderBy(F.col("num_compras").desc(), "l_partkey")
        .limit(100)
    )


# ---------------------------------------------------------------- Q10 ---
def q10_purchase_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG day-gaps per product (ref consulta_historial_completo.sql:37-52):
    avg/max gap between consecutive purchases. One shuffle (window + agg
    share the l_partkey partitioning — Catalyst reuses the exchange)."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_partkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    gaps = li.select(
        "l_partkey",
        F.datediff("l_shipdate", F.lag("l_shipdate").over(w)).alias("gap"),
    )
    return (
        gaps.filter(F.col("gap").isNotNull())
        .groupBy("l_partkey")
        .agg(
            F.sum("gap").alias("_sg"),
            F.max("gap").alias("gap_max_dias"),
            F.count("*").alias("num_gaps"),
        )
        # integer-exact 2dp average over exact int day-gaps (q13 technique)
        .withColumn(
            "gap_medio_dias",
            F.expr("CAST((200 * _sg + num_gaps) div (2 * num_gaps) AS DOUBLE) / 100.0"),
        )
        .select("l_partkey", "gap_medio_dias", "gap_max_dias", "num_gaps")
        .orderBy("l_partkey")
        .limit(100)
    )


# ---------------------------------------------------------------- Q12 ---
def q12_multi_price_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Products seen at >1 distinct price (ref
    consulta_historial_precios_corregida.sql:5-20): HAVING COUNT>1 + min/max/avg.

    Round 8: fanned scan keyed on the groupBy key (guide §2.5; q09
    rationale) — the countDistinct Expand doubles rows, so the serial
    scan-stage agg was the whole query cost at single-row-group scales."""
    li = _t(spark, sf_dir, "lineitem", fan_key="l_partkey")
    return (
        li.groupBy("l_partkey")
        .agg(
            F.countDistinct("l_extendedprice").alias("num_precios"),
            F.round(F.min("l_extendedprice"), 2).alias("precio_min"),
            F.round(F.max("l_extendedprice"), 2).alias("precio_max"),
            F.sum(_cents(F.col("l_extendedprice"))).alias("_c"),
            F.count("*").alias("_n"),
        )
        .withColumn(
            "precio_medio",
            F.expr("CAST((2 * _c + _n) div (2 * _n) AS DOUBLE) / 100.0"),
        )
        .select("l_partkey", "num_precios", "precio_min", "precio_max", "precio_medio")
        .filter(F.col("num_precios") > 1)
        .orderBy(F.col("num_precios").desc(), "l_partkey")
        .limit(100)
    )


# ---------------------------------------------------------------- Q13 ---
def q13_rolling_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-30-day rolling price stats + pct change vs previous purchase
    (ref process-invoice/index.ts:3441-3505, declarative replacement of the
    imperative read-modify-write). rangeBetween over epoch-days."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_partkey") <= 200)
    days = F.datediff(F.col("l_shipdate"), F.lit("1992-01-01"))
    wr = (
        Window.partitionBy("l_partkey")
        .orderBy(days)
        .rangeBetween(-30, 0)
    )
    wl = Window.partitionBy("l_partkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    # integer-exact rolling average: prices are 2dp, so sum cents as BIGINT
    # and round half-up via integer division — float avg is summation-order-
    # dependent and engines disagree on .xx5 rounding ties
    cents = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
    out = (
        li.withColumn("_c30", F.sum(cents).over(wr))
        .withColumn("_n30", F.count("*").over(wr))
        .select(
            "l_partkey",
            "l_orderkey",
            "l_linenumber",
            F.to_date("l_shipdate").alias("fecha_compra"),
            F.expr(
                "CAST((2 * _c30 + _n30) div (2 * _n30) AS DOUBLE) / CAST(100 AS DOUBLE)"
            ).alias("precio_promedio_30d"),
            F.round(F.min("l_extendedprice").over(wr), 2).alias("precio_min_30d"),
            F.round(F.max("l_extendedprice").over(wr), 2).alias("precio_max_30d"),
            F.round(
                (F.col("l_extendedprice") - F.lag("l_extendedprice").over(wl))
                / F.lag("l_extendedprice").over(wl) * 100,
                2,
            ).alias("variacion_pct"),
        )
    )
    return out.orderBy("l_partkey", "fecha_compra", "l_orderkey", "l_linenumber")


# ---------------------------------------------------------------- Q8 ----
def q08_price_history_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-history log with date arithmetic (ref
    consulta_historial_completo.sql:5-18): 2 joins + day-age column."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_partkey") <= 100)
    part = _t(spark, sf_dir, "part")
    orders = _t(spark, sf_dir, "orders")
    # round 8 (guide §3.1): broadcast the SMALL compound side — the
    # planner was building the broadcast from the full 1.5M-row orders
    # scan (BuildRight) while the li⨝part side is ~6k rows after the
    # pushed l_partkey filter; the hint flips the build side so orders
    # streams and nothing big is broadcast
    return (
        F.broadcast(li.join(F.broadcast(part), li.l_partkey == part.p_partkey))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            "p_name",
            F.to_date("l_shipdate").alias("fecha_compra"),
            F.round("l_extendedprice", 2).alias("precio"),
            F.datediff(F.lit("1999-01-01").cast("date"), F.to_date("l_shipdate")).alias(
                "dias_desde_compra"
            ),
            "o_orderkey",
            "l_linenumber",
        )
        .orderBy("p_name", "fecha_compra", "o_orderkey", "l_linenumber")
    )


# ---------------------------------------------------------------- Q11 ---
def q11_spend_per_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total/avg spend per product (ref consulta_historial_completo.sql:68-80)."""
    # round 8: fan A/B'd and NOT applied (no Expand here; ratio 1.18 — see q07)
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_name")
        .agg(
            F.sum(_rev_e4()).alias("_r4"),
            F.sum(_cents(F.col("l_extendedprice"))).alias("_c"),
            F.count("*").alias("num_lineas"),
        )
        .withColumn(
            "gasto_total", F.expr("CAST((2 * _r4 + 100) div 200 AS DOUBLE) / 100.0")
        )
        .withColumn(
            "precio_medio",
            F.expr("CAST((2 * _c + num_lineas) div (2 * num_lineas) AS DOUBLE) / 100.0"),
        )
        .select("p_name", "gasto_total", "precio_medio", "num_lineas")
        .orderBy(F.col("gasto_total").desc(), "p_name")
        .limit(50)
    )


# ------------------------------------------- rows-only (non-SQL) operators --
def products_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full dogfood path, rows-only check (per-doc sequential P3-P15 pipeline
    is not oracle-SQL-expressible): synth pages -> extract -> product lines
    -> per-category aggregate."""
    from facturas_spark.pipeline import extract_pages_full, extract_products_table
    from facturas_spark.synth import PAGES_SCHEMA_DDL, corpus_rows

    pages = spark.createDataFrame(corpus_rows(300, seed=42), PAGES_SCHEMA_DDL)
    prods = extract_products_table(extract_pages_full(pages))
    return (
        prods.groupBy("categoria")
        .agg(
            F.count("*").alias("lineas"),
            F.round(F.sum("cantidad"), 2).alias("cantidad_total"),
            F.round(F.sum("precio_total_linea_sin_iva"), 2).alias("importe_total"),
        )
        .orderBy("categoria")
    )


def _cotejo_docs(spark: SparkSession) -> DataFrame:
    """The shared extracted-docs frame both cotejo pipelines consume.
    Round 8: session-cached (cache.py pattern) — each pipeline previously
    re-ran the 300-doc extraction UDF + products rebuild per call (and
    left an unreleased persisted frame behind per call); now the first caller
    materializes it once per session."""
    from facturas_spark.analytics.cache import session_cached
    from facturas_spark.pipeline import extract_pages_full, extract_products_table
    from facturas_spark.synth import PAGES_SCHEMA_DDL, corpus_rows

    def make() -> DataFrame:
        from facturas_spark.analytics.cache import tracked_checkpoint

        pages = spark.createDataFrame(corpus_rows(300, seed=42), PAGES_SCHEMA_DDL)
        # checkpoint inside the build scope (freed when the entry
        # materializes): the UDF lineage is referenced by both branches
        ext = tracked_checkpoint(extract_pages_full(pages))
        prods = (
            extract_products_table(ext)
            .groupBy("url")
            .agg(F.collect_list("descripcion_original").alias("productos"))
        )
        return ext.drop("productos").join(prods, "url", "left").withColumn(
            "productos", F.coalesce("productos", F.array())
        )

    return session_cached(spark, "synthetic", "cotejo_docs_300", make)


def cotejo_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end invoice<->delivery-note matching over the synthetic corpus
    (rows-only: 5-method unioned joins + consolidation are the operator under
    test; the oracle gate covers the score algebra via test_matching.py)."""
    from datetime import date

    from facturas_spark.matching.cotejo import run_cotejo

    docs = _cotejo_docs(spark)
    facturas = docs.filter(F.col("tipo_documento") == "factura").select(
        F.col("url").alias("factura_id"),
        "proveedor_nombre",
        F.col("fecha_factura"),
        "total_factura",
        "productos",
    )
    albaranes = docs.filter(F.col("tipo_documento") == "albaran").select(
        F.col("url").alias("albaran_id"),
        F.col("numero_factura").alias("numero_albaran"),
        "proveedor_nombre",
        F.col("fecha_factura").alias("fecha_albaran"),
        F.col("total_factura").alias("total_albaran"),
        "productos",
    )
    out = run_cotejo(facturas, albaranes, as_of=date(2025, 12, 31))
    return (
        out.groupBy("categoria_enlace", "metodo")
        .agg(F.count("*").alias("pares"), F.round(F.avg("score"), 4).alias("score_medio"))
        .orderBy("categoria_enlace", "metodo")
    )


def cotejo_inverso_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M13 end-to-end: the albarán→factura direction with its own faithful
    windows/filters (rows-only; semantics pinned in test_matching.py)."""
    from datetime import date

    from facturas_spark.matching.cotejo import run_cotejo_inverso

    docs = _cotejo_docs(spark)
    facturas = docs.filter(F.col("tipo_documento") == "factura").select(
        F.col("url").alias("factura_id"),
        "proveedor_nombre",
        "fecha_factura",
        "total_factura",
        "numero_factura",
        "productos",
    )
    albaranes = docs.filter(F.col("tipo_documento") == "albaran").select(
        F.col("url").alias("albaran_id"),
        "proveedor_nombre",
        F.col("fecha_factura").alias("fecha_albaran"),
        F.col("total_factura").alias("total_albaran"),
        "productos",
    )
    out = run_cotejo_inverso(albaranes, facturas, as_of=date(2025, 12, 31))
    return (
        out.groupBy("categoria_enlace", "metodo")
        .agg(F.count("*").alias("pares"), F.round(F.avg("score"), 4).alias("score_medio"))
        .orderBy("categoria_enlace", "metodo")
    )


def _ocr_docs(spark: SparkSession) -> DataFrame:
    """The 60 synthesized Document-AI docs both ocr_layout_* queries walk.
    Round 8: session-cached (cache.py pattern — a base shared across
    queries): the driver-side conversion of the deeply nested pages
    structure into JVM rows costs ~1 s per createDataFrame call and both
    queries built it on EVERY invocation; the first caller now
    materializes it once per session."""
    from facturas_spark.analytics.cache import session_cached
    from facturas_spark.extraction.ocr import OCR_DOC_DDL
    from facturas_spark.synth import ocr_rows

    return session_cached(
        spark,
        "synthetic",
        "ocr_docs_60",
        lambda: spark.createDataFrame(ocr_rows(60, seed=42), OCR_DOC_DDL),
    )


def ocr_layout_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OCR-layout path, rows-only check: synthetic Document-AI-style docs ->
    byte-identical span reconstruction (T1), layout walk (T3), table product
    extraction (P1), y-cluster row rebuild — aggregated counts per doc."""
    from pyspark.sql.functions import pandas_udf

    df = _ocr_docs(spark)

    @pandas_udf(
        "n_elements int, n_products int, n_rows int, spans_ok boolean"
    )
    def kernel(text: pd.Series, pages: pd.Series) -> pd.DataFrame:
        from facturas_spark.extraction.ocr import (
            extract_table_products,
            reconstruct_rows_from_tokens,
            walk_layout,
        )

        out = []
        for t, ps in zip(text, pages):
            # Arrow hands the nested struct arrays over as ndarrays of
            # plain dicts — the kernels are ndarray-tolerant since round
            # 5 (ocr._seq), so no per-token dict copy is needed here
            # (the copy layer was the +45% regression on this query)
            els = walk_layout(t, ps)
            prods = extract_table_products(t, ps)
            rows = reconstruct_rows_from_tokens(t, ps[0])
            spans_ok = all(e["texto"] == e["texto"].strip() and e["texto"] for e in els)
            out.append((len(els), len(prods), len(rows), spans_ok))
        return pd.DataFrame(
            out, columns=["n_elements", "n_products", "n_rows", "spans_ok"]
        )

    from pyspark.sql import functions as FF

    res = df.select("url", kernel("text", "pages").alias("k")).select("url", "k.*")
    return res.agg(
        FF.count("*").alias("docs"),
        FF.sum("n_elements").alias("total_elements"),
        FF.sum("n_products").alias("total_products"),
        FF.sum("n_rows").alias("total_rows"),
        FF.sum(FF.when(FF.col("spans_ok"), 1).otherwise(0)).alias("docs_spans_ok"),
    )


def ocr_layout_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable facet of the T3 layout walk (round-5 verdict
    directive 4): per container kind, how many elements of the
    synthesized Document-AI docs survive the span gates (bounds check +
    empty-after-strip drop, including the planted out-of-bounds token),
    the total reconstructed text length, the per-kind confidence prior
    (process-invoice/index.ts:1125-1130), and how many docs carry the
    kind. The Spark side runs the REAL ``walk_layout`` kernel; the
    DuckDB twin re-derives every number from the raw (kind, start, end)
    spans + flat texts with pure substr/trim arithmetic — a genuine
    cross-engine check of T1 span reconstruction and the walk's gates."""
    from pyspark.sql.functions import pandas_udf

    df = _ocr_docs(spark)

    @pandas_udf("array<struct<kind:string, cnt:long, chars:long>>")
    def kernel(text: pd.Series, pages: pd.Series) -> pd.Series:
        from facturas_spark.extraction.ocr import walk_layout

        out = []
        for t, ps in zip(text, pages):
            per: dict[str, list[int]] = {}
            for e in walk_layout(t, ps):
                acc = per.setdefault(e["kind"], [0, 0])
                acc[0] += 1
                acc[1] += len(e["texto"])
            out.append(
                [
                    {"kind": k, "cnt": c, "chars": ch}
                    for k, (c, ch) in per.items()
                ]
            )
        return pd.Series(out)

    from facturas_spark.extraction.ocr import _CONTAINERS

    prior = F.create_map(
        *[x for _f, key, conf in _CONTAINERS for x in (F.lit(key), F.lit(conf))]
    )
    per_doc = df.select(
        "url", F.explode(kernel("text", "pages")).alias("k")
    ).select("url", "k.*")
    return (
        per_doc.groupBy("kind")
        .agg(
            F.sum("cnt").alias("elements"),
            F.sum("chars").alias("total_chars"),
            F.count("*").alias("docs_with_kind"),
        )
        .withColumn("conf_prior", prior[F.col("kind")])
        .orderBy("kind")
    )


# ------------------------------------------------------- text analytics --
def txt_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting over documents (whitespace tokenizer), per-lang stats.
    Training-data-pipeline staple; pure built-ins (split/size)."""
    docs = _t(spark, sf_dir, "documents", fan_key="doc_id")
    toks = F.size(
        F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != F.lit(""))
    )
    return (
        docs.select("lang", toks.alias("n_tokens"), F.length("text").alias("n_len"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.max("n_len").alias("max_len"),
        )
        # integer-exact 2dp average (q13 technique): token counts are exact
        # ints, so half-up rounding via integer division is identical in
        # every engine at every partitioning — float AVG is
        # summation-order-dependent
        .withColumn(
            "avg_tokens",
            F.expr("CAST((200 * total_tokens + docs) div (2 * docs) AS DOUBLE) / 100.0"),
        )
        .select("lang", "docs", "total_tokens", "avg_tokens", "max_len")
        .orderBy("lang")
    )


def txt_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality scoring (length / punctuation / stopword-ish
    ratios), bucketed. Generalizes the reference line filter T4
    (process-invoice/index.ts:1493-1510) to document level."""
    docs = _t(spark, sf_dir, "documents", fan_key="doc_id")
    n = F.length("text")
    letters = F.length(F.regexp_replace("text", r"[^A-Za-z]", ""))
    spaces = F.length(F.regexp_replace("text", r"[^ ]", ""))
    letter_ratio = F.when(n > 0, letters / n).otherwise(F.lit(0.0))
    word_len = F.when(spaces > 0, (n - spaces) / (spaces + 1)).otherwise(n)
    score = (
        F.when(n < 10, 0.1)
        .when(letter_ratio < 0.5, 0.3)
        .when(word_len > 12, 0.4)
        .otherwise(1.0)
    )
    return (
        docs.select("doc_id", score.alias("quality"))
        .groupBy("quality")
        .agg(F.count("*").alias("docs"))
        .orderBy("quality")
    )


def txt_amount_shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-extractor demo on the documents table: count amount-shaped and
    date-shaped tokens per lang (F4/F3 regex layer, SQL-expressible half)."""
    docs = _t(spark, sf_dir, "documents", fan_key="doc_id")
    amounts = F.size(F.regexp_extract_all("text", F.lit(r"(\d+[,\.]\d{2})"), 1))
    dates = F.size(
        F.regexp_extract_all("text", F.lit(r"(\d{1,2}/\d{1,2}/\d{2,4})"), 1)
    )
    return (
        docs.groupBy("lang")
        .agg(
            F.sum(amounts).alias("amount_tokens"),
            F.sum(dates).alias("date_tokens"),
            F.count("*").alias("docs"),
        )
        .orderBy("lang")
    )


def txt_content_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 line-level content filter as an oracle-checked columnar query
    (ref process-invoice/index.ts:1493-1510, the rules of
    boilerplate.line_content_mask): segment each document at sentence
    boundaries, keep 'name-like' content segments — length 5..120,
    >=4 letters and letter-ratio >= 0.3, not pure numbers/dates/labels —
    and report per-lang keep-rates. Pure built-ins; the trim is an
    explicit regexp so Spark and DuckDB agree on whitespace classes."""
    docs = _t(spark, sf_dir, "documents", fan_key="doc_id")
    lines = docs.select(
        "lang",
        F.explode(F.split(F.coalesce("text", F.lit("")), r"\.\s+")).alias("raw"),
    )
    cand = F.regexp_replace("raw", r"^\s+|\s+$", "")
    n = F.length(cand)
    # letters: what is left after deleting every character outside the class
    letters = F.length(F.regexp_replace(cand, "[^" + _LETTERS.pattern[1:], ""))
    keep = (
        (n >= 5)
        & (n <= 120)
        & ~cand.rlike(_rx(_ONLY_DIGITS))
        & ~cand.rlike(_rx(_DMY))
        & ~cand.rlike(_rx(_LEADING_KEYWORD_1))
        & (letters >= 4)
        & (letters >= n * 0.3)
    )
    return (
        lines.select("lang", keep.cast("int").alias("_k"))
        .groupBy("lang")
        .agg(F.count("*").alias("segmentos"), F.sum("_k").alias("contenido"))
        .withColumn(
            "pct_contenido",
            F.expr(
                "CAST((2 * contenido * 10000 + segmentos) div (2 * segmentos) AS DOUBLE) / 100.0"
            ),
        )
        .select("lang", "segmentos", "contenido", "pct_contenido")
        .orderBy("lang")
    )


def c1_classify_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 classifyDocument as a columnar rollup over the documents table
    (ref process-invoice/index.ts:3982-4116, same rules as
    textparse.classify_document): keyword gates -> price-shape count ->
    delivery indicators -> default, grouped per (lang, tipo, confianza,
    razonamiento-tag). The fused-UDF kernel is the hot path; this is the
    same operator in its SQL-surface form, oracle-gated."""
    docs = _t(spark, sf_dir, "documents", fan_key="doc_id")
    txt = F.coalesce("text", F.lit(""))
    low = F.lower(txt)

    def any_kw(kws):
        cond = None
        for k in kws:
            c = low.contains(k)
            cond = c if cond is None else (cond | c)
        return cond

    entrega_n = None
    for k in _ENTREGA_INDICATORS:
        c = low.contains(k).cast("int")
        entrega_n = c if entrega_n is None else (entrega_n + c)
    # round 8 (guide §1.2 per-task work): materialize the shared gates in
    # ONE projection. tipo/confianza/razonamiento each referenced the
    # keyword scans and the price-shape regex inside their own CASE
    # branches, and conditional branches are not common-subexpression-
    # eliminated across output columns — the lowered text was re-scanned
    # up to 3x per row. Same values, one evaluation each.
    gated = docs.select(
        "lang",
        (F.length(txt) < 10).alias("short"),
        any_kw(_ALBARAN_KEYWORDS).alias("has_alb"),
        any_kw(_FACTURA_KEYWORDS).alias("has_fac"),
        F.size(F.regexp_extract_all(low, F.lit(_rx(_PRICE_SHAPE)), 0)).alias(
            "precios"
        ),
        entrega_n.alias("entrega"),
    )
    short = F.col("short")
    has_alb = F.col("has_alb")
    has_fac = F.col("has_fac")
    precios = F.col("precios")
    entrega = F.col("entrega")
    tipo = (
        F.when(short, "factura")
        .when(has_alb & ~has_fac, "albaran")
        .when(has_fac & ~has_alb, "factura")
        .when(has_alb & has_fac, "factura")
        .when(precios > 3, "factura")
        .when(entrega > 1, "albaran")
        .otherwise("factura")
    )
    conf = (
        F.when(short, 0.3)
        .when(has_alb | has_fac, 0.95)
        .when(precios > 3, 0.7)
        .when(entrega > 1, 0.6)
        .otherwise(0.5)
    )
    razon = (
        F.when(short, "texto_insuficiente")
        .when(has_alb & ~has_fac, "albaran_sin_factura")
        .when(has_fac & ~has_alb, "factura_sin_albaran")
        .when(has_alb & has_fac, "factura_con_ref_albaran")
        .when(precios > 3, "precios")
        .when(entrega > 1, "indicadores_entrega")
        .otherwise("default")
    )
    return (
        gated.select(
            "lang",
            tipo.alias("tipo_documento"),
            conf.alias("confianza"),
            razon.alias("razonamiento"),
        )
        .groupBy("lang", "tipo_documento", "confianza", "razonamiento")
        .agg(F.count("*").alias("docs"))
        .orderBy("lang", "tipo_documento", "confianza", "razonamiento")
    )


def txt_field_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-expressible field-extraction layer, per doc then rolled up
    per lang: first in-text CIF (F10's scan bank,
    process-invoice/index.ts:286-287), max parsed amount of the
    amount-shaped tokens (F4 pick-max + F7 comma-as-decimal on the
    \\d+[,.]\\d{2} shape), and first VALID date as dd/MM/yyyy within a
    fixed plausible-year gate (F3). The webtext corpus is digit-free, so
    invoice-shaped fields are synthesized deterministically per doc_id —
    CIF on even ids, a date on ids %% 3 != 0 (month = id %% 14 + 1, so
    ~2/14 are invalid and must be REJECTED by the validity gate), and two
    amounts on ids %% 5 != 0 (',' or '.' decimal by parity; the max must
    win). Amounts aggregate exactly as cents."""
    docs = _t(spark, sf_dir, "documents", fan_key="doc_id")
    did = F.col("doc_id")
    cif_part = F.when(
        did % 2 == 0,
        F.concat(
            F.lit(" C.I.F. B"),
            F.lpad(((did * 37) % 100000000).cast("string"), 8, "0"),
        ),
    ).otherwise(F.lit(""))
    fecha_part = F.when(
        did % 3 != 0,
        F.concat(
            F.lit(" FECHA "),
            (did % 28 + 1).cast("string"),
            F.lit("/"),
            (did % 14 + 1).cast("string"),  # 13/14 -> invalid month
            F.lit("/"),
            (2020 + did % 6).cast("string"),
        ),
    ).otherwise(F.lit(""))
    sep = F.when(did % 2 == 0, F.lit(",")).otherwise(F.lit("."))
    amt = lambda mult: F.concat(  # noqa: E731
        ((did * mult) % 900 + 100).cast("string"), sep,
        F.lpad((did % 100).cast("string"), 2, "0"),
    )
    amount_part = F.when(
        did % 5 != 0,
        F.concat(F.lit(" TOTAL "), amt(7), F.lit(" BASE "), amt(3)),
    ).otherwise(F.lit(""))
    txt = F.concat(F.coalesce("text", F.lit("")), cif_part, fecha_part, amount_part)
    cif = F.try_element_at(
        F.regexp_extract_all(txt, F.lit(_rx(_CIF_SCAN)), 0), F.lit(1)
    )
    amounts = F.transform(
        F.regexp_extract_all(txt, F.lit(r"(\d+[,\.]\d{2})"), 1),
        lambda s: F.translate(s, ",", ".").cast("double"),
    )
    max_amount = F.array_max(amounts)
    dates = F.filter(
        F.transform(
            F.regexp_extract_all(
                txt, F.lit(r"(\d{1,2}/\d{1,2}/\d{4})"), 1
            ),
            lambda s: F.try_to_date(s, "d/M/yyyy"),
        ),
        lambda d: d.isNotNull()
        & (d >= F.lit("1990-01-01").cast("date"))
        & (d <= F.lit("2030-12-31").cast("date")),
    )
    first_date = F.try_element_at(dates, F.lit(1))
    per_doc = docs.select(
        "lang",
        cif.alias("_cif"),
        max_amount.alias("_amt"),
        first_date.alias("_fecha"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("docs"),
            F.count("_cif").alias("cif_hits"),
            F.count("_fecha").alias("fecha_hits"),
            F.count("_amt").alias("amount_hits"),
            F.sum((F.col("_amt").cast("decimal(18,2)") * 100).cast("long")).alias(
                "_c"
            ),
        )
        .withColumn("total_amount_max", F.expr("CAST(_c AS DOUBLE) / 100.0"))
        .select(
            "lang", "docs", "cif_hits", "fecha_hits", "amount_hits",
            "total_amount_max",
        )
        .orderBy("lang")
    )


def f11_fiscal_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 fiscal reconciliation oracle-hashed directly (the 'total/IVA
    amount reconciliation' named by the north star; exact branch order of
    process-invoice/index.ts:1646-1688 + the coherence overwrite at
    :1670-1688 and JS 2dp rounding): fill any one missing member of
    {total, base, cuota} from the other two + tipo, then overwrite total
    when |total-(base+cuota)| > 0.01. Scenarios synthesized from orders
    cover every branch: total-only, base-only, base+cuota, base+total,
    incoherent triple (overwrite fires), coherent triple (untouched).
    Per-row double algebra — identical in both engines."""
    o = _t(spark, sf_dir, "orders", fan_key="o_orderkey").filter(
        F.col("o_orderkey") <= 6000
    )
    s = F.col("o_orderkey") % 6
    v = F.col("o_totalprice")
    tp = F.element_at(
        F.array(F.lit(4), F.lit(10), F.lit(21)), (F.col("o_custkey") % 3 + 1).cast("int")
    )
    t0 = (
        F.when(s == 0, v)
        .when(s == 3, _r(v * 1.21))
        .when(s == 4, _r(v * 1.21) + 5)
        .when(s == 5, v + _r(v * 0.21))
        .otherwise(F.lit(0.0))
    )
    b0 = F.when(s == 0, F.lit(0.0)).otherwise(v)
    c0 = (
        F.when(s == 2, _r(v * 0.1))
        .when((s == 4) | (s == 5), _r(v * 0.21))
        .otherwise(F.lit(0.0))
    )
    base = o.select(
        "o_orderkey",
        s.alias("escenario"),
        tp.alias("tipo"),
        t0.alias("_t"),
        b0.alias("_b"),
        c0.alias("_c"),
    )
    br = (
        F.when((F.col("_t") > 0) & (F.col("_b") == 0) & (F.col("tipo") > 0), 1)
        .when((F.col("_b") > 0) & (F.col("_c") == 0) & (F.col("tipo") > 0), 2)
        .when((F.col("_b") > 0) & (F.col("_c") > 0) & (F.col("_t") == 0), 3)
        .when((F.col("_b") > 0) & (F.col("_t") > 0) & (F.col("_c") == 0), 4)
        .otherwise(0)
    )
    d = base.withColumn("_br", br)
    fill_base = F.when(
        F.col("_br") == 1, F.col("_t") / (1 + F.col("tipo") / 100)
    ).otherwise(F.col("_b"))
    fill_cuota = (
        F.when(F.col("_br") == 1, F.col("_t") - F.col("_t") / (1 + F.col("tipo") / 100))
        .when(F.col("_br") == 2, F.col("_b") * (F.col("tipo") / 100))
        .when(F.col("_br") == 4, F.col("_t") - F.col("_b"))
        .otherwise(F.col("_c"))
    )
    fill_total = (
        F.when(F.col("_br") == 2, F.col("_b") + F.col("_b") * (F.col("tipo") / 100))
        .when(F.col("_br") == 3, F.col("_b") + F.col("_c"))
        .otherwise(F.col("_t"))
    )
    d = d.withColumn("_fb", fill_base).withColumn("_fc", fill_cuota).withColumn(
        "_ft", fill_total
    )
    coherent_total = F.when(
        (F.col("_fb") > 0)
        & (F.col("_fc") > 0)
        & (F.col("_ft") > 0)
        & (F.abs(F.col("_ft") - (F.col("_fb") + F.col("_fc"))) > 0.01),
        F.col("_fb") + F.col("_fc"),
    ).otherwise(F.col("_ft"))
    return d.select(
        "o_orderkey",
        "escenario",
        "tipo",
        _r(F.col("_fb")).alias("base_imponible"),
        _r(F.col("_fc")).alias("cuota_iva"),
        _r(coherent_total).alias("total_factura"),
    ).orderBy("o_orderkey")


def f8_date_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8's two 2-digit-year rules oracle-hashed side by side (SURVEY §7
    hard part 1 — the reference's converters DISAGREE: convertToISODate
    applies <50 -> 20xx else 19xx at index.ts:1444 while parseSpanishDate
    always adds 2000 at :2893-2895; each extraction site binds its exact
    variant). Synthesized dd/mm/yy tokens from orders; the two parsed
    dates plus the agreement flag per row."""
    o = _t(spark, sf_dir, "orders", fan_key="o_orderkey").filter(
        F.col("o_orderkey") <= 6000
    )
    d = (F.col("o_orderkey") % 28 + 1).cast("int")
    m = (F.col("o_orderkey") % 12 + 1).cast("int")
    yy = (F.col("o_custkey") % 100).cast("int")
    year_fallback = F.when(yy < 50, 2000 + yy).otherwise(1900 + yy)
    year_strict = 2000 + yy
    return o.select(
        "o_orderkey",
        F.concat_ws("/", d, m, F.lpad(yy.cast("string"), 2, "0")).alias("texto"),
        F.make_date(year_fallback, m, d).alias("fecha_fallback"),
        F.make_date(year_strict, m, d).alias("fecha_estricta"),
        (yy < 50).alias("coinciden"),
    ).orderBy("o_orderkey")


def f7_amount_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7's two amount parsers oracle-hashed side by side (SURVEY §7 hard
    part 1): the fallback parseImporte disambiguates by LAST-separator
    position and treats a lone separator as decimal only with <=2 trailing
    digits (index.ts:1380-1432, rounds half-up 2dp), while the strict
    parseSpanishAmount treats a lone comma as ALWAYS decimal
    (:1812-1847, no rounding) — so '1,234' parses 1234.0 vs 1.234.
    Synthesized tokens cover ES/EN thousand+decimal, both lone-separator
    shapes on each side of the 2-trailing-digit rule, plain integers, and
    currency/space stripping. Columnar rules are defined over
    single-comma/single-dot tokens (replace-all == replace-first there);
    kernel parity per token is pinned in pytest."""
    o = _t(spark, sf_dir, "orders", fan_key="o_orderkey").filter(
        F.col("o_orderkey") <= 6000
    )
    s = F.col("o_orderkey") % 8
    d3 = (F.col("o_orderkey") % 900 + 100).cast("string")
    d2 = F.lpad((F.col("o_custkey") % 100).cast("string"), 2, "0")
    d1 = (F.col("o_custkey") % 10).cast("string")
    tok = (
        F.when(s == 0, F.concat(d3, F.lit("."), F.lit("234,"), d2))
        .when(s == 1, F.concat(d3, F.lit(","), F.lit("234."), d2))
        .when(s == 2, F.concat(d3, F.lit(","), F.lit("234")))
        .when(s == 3, F.concat(d3, F.lit(","), d1))
        .when(s == 4, F.concat(d3, F.lit("."), F.lit("234")))
        .when(s == 5, F.concat(d3, F.lit("."), d2))
        .when(s == 6, d3)
        .otherwise(F.concat(d3, F.lit(" "), F.lit("345,"), d2, F.lit(" €")))
    )
    base = o.select("o_orderkey", s.alias("escenario"), tok.alias("token"))
    c = F.regexp_replace(F.col("token"), r"[€$£¥\s]", "")
    has_c = c.contains(",")
    has_d = c.contains(".")
    parts_c = F.split(c, ",")
    parts_d = F.split(c, r"\.")
    # last-separator positions via reverse+locate (0 when absent)
    last_c = F.length(c) - F.expr("locate(',', reverse(_c))") + 1
    last_d = F.length(c) - F.expr("locate('.', reverse(_c))") + 1
    lone_c_dec = (F.size(parts_c) == 2) & (
        F.length(F.element_at(parts_c, 2)) <= 2
    )
    lone_d_dec = (F.size(parts_d) == 2) & (
        F.length(F.element_at(parts_d, 2)) <= 2
    )
    fallback_clean = (
        F.when(
            has_c & has_d & (last_c > last_d),
            F.translate(F.regexp_replace(c, r"\.", ""), ",", "."),
        )
        .when(has_c & has_d, F.regexp_replace(c, ",", ""))
        .when(has_c & lone_c_dec, F.translate(c, ",", "."))
        .when(has_c, F.regexp_replace(c, ",", ""))
        .when(has_d & lone_d_dec, c)
        .when(has_d, F.regexp_replace(c, r"\.", ""))
        .otherwise(c)
    )
    strict_clean = (
        F.when(has_c & has_d, F.translate(F.regexp_replace(c, r"\.", ""), ",", "."))
        .when(has_c, F.translate(c, ",", "."))
        .otherwise(c)
    )
    withc = base.withColumn("_c", c)
    return withc.select(
        "o_orderkey",
        "escenario",
        "token",
        _r(fallback_clean.try_cast("double")).alias("importe_fallback"),
        strict_clean.try_cast("double").alias("importe_estricto"),
    ).withColumn(
        "coinciden", F.col("importe_fallback") == F.col("importe_estricto")
    ).orderBy("o_orderkey")


def p8_p15_products_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 name normalization + P15 category inference oracle-hashed
    (normalizeProductName index.ts:1850-1874 exact rule ORDER — quote/dash
    unification, whitespace collapse, trailing single-letter/'es'/'cc'
    strip, x-sign, dot removal; inferCategory :2774-2850 first-match
    priority chain). Raw descriptions synthesized from part names with a
    category marker and a formatting-noise variant per key (curly quotes,
    em-dash, double spaces, each trailing-strip rule)."""
    from facturas_spark.extraction.products import _CATEGORIES

    part = _t(spark, sf_dir, "part", fan_key="p_partkey").filter(

        F.col("p_partkey") <= 300

    )
    markers = [keys[0] for _, keys in _CATEGORIES] + ["zzz"]
    kw = F.element_at(
        F.array(*[F.lit(m) for m in markers]),
        (F.col("p_partkey") % len(markers) + 1).cast("int"),
    )
    v = F.col("p_partkey") % 4
    raw = (
        F.when(v == 0, F.concat(F.col("p_name"), F.lit(" “"), kw, F.lit("”")))
        .when(v == 1, F.concat(F.col("p_name"), F.lit(" – "), kw, F.lit(" es")))
        .when(v == 2, F.concat(F.col("p_name"), F.lit("  "), kw, F.lit(" x")))
        .otherwise(F.concat(F.col("p_name"), F.lit(" "), kw, F.lit(" cc.")))
    )

    def norm_p8(c):
        n = F.regexp_replace(F.lower(c), r"^\s+|\s+$", "")
        n = F.regexp_replace(n, "[“”‘’]", '"')
        n = F.regexp_replace(n, "[–—]", "-")
        n = F.regexp_replace(n, r"\s+", " ")
        n = F.regexp_replace(n, r"\s+[a-z]\s*$", "")
        n = F.regexp_replace(n, r"\s+es\s*$", "")
        n = F.regexp_replace(n, r"\s+cc\s*$", "")
        n = F.translate(n, "×", "x")
        n = F.regexp_replace(n, r"\.", "")
        return F.regexp_replace(n, r"^\s+|\s+$", "")

    low = F.lower(raw)
    cat = None
    for name, keys in _CATEGORIES:
        cond = None
        for k in keys:
            c = low.contains(k)
            cond = c if cond is None else (cond | c)
        cat = F.when(cond, name) if cat is None else cat.when(cond, name)
    cat = cat.otherwise("general")
    return part.select(
        "p_partkey",
        raw.alias("descripcion_original"),
        norm_p8(raw).alias("descripcion_normalizada"),
        cat.alias("categoria"),
    ).orderBy("p_partkey")


def p9_price_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 price-completion FSM oracle-hashed (fixPriceCalculation,
    index.ts:3249-3347): the 8-rule single-pass closure filling
    unit/total x sin/con-IVA from any subset + cantidad, JS-falsy gates
    (None or 0 counts as missing; tipo_iva 0 falls back to 21 via ||).
    Sequential rule visibility is preserved with chained column stages
    (each rule reads the previous rules' outputs). Scenarios synthesized
    from orders leave a different subset filled per row, with qty=0 rows
    exercising the qty>0 gates and tipo 0 exercising the falsy fallback."""
    o = _t(spark, sf_dir, "orders", fan_key="o_orderkey").filter(
        F.col("o_orderkey") <= 5000
    )
    s = F.col("o_orderkey") % 8
    v = F.col("o_totalprice")
    qty0 = F.when(s.isin(0, 3, 5, 6), (F.col("o_custkey") % 5).cast("double"))
    tipo0 = F.element_at(
        F.array(F.lit(0), F.lit(4), F.lit(10), F.lit(21)),
        (F.col("o_custkey") % 4 + 1).cast("int"),
    )
    d = o.select(
        "o_orderkey",
        s.alias("escenario"),
        F.when(s == 1, v).when(s == 5, v).alias("u_sin"),
        F.when(s == 0, v).alias("u_con"),
        F.when(s == 3, v).when(s == 4, v).alias("t_sin"),
        F.when(s == 2, v).when(s == 6, v).alias("t_con"),
        qty0.alias("qty"),
        tipo0.alias("tipo0"),
    ).withColumn(
        "tipo", F.when(F.col("tipo0") == 0, F.lit(21)).otherwise(F.col("tipo0"))
    ).withColumn("factor", 1 + F.col("tipo") / 100)

    has = lambda c: F.col(c).isNotNull() & (F.col(c) != 0)  # noqa: E731
    # rules 1-4: fill the missing IVA side of each pair
    d = d.withColumn(
        "u_sin",
        F.when(has("u_con") & ~has("u_sin"), F.col("u_con") / F.col("factor"))
        .otherwise(F.col("u_sin")),
    )
    d = d.withColumn(
        "u_con",
        F.when(has("u_sin") & ~has("u_con"), F.col("u_sin") * F.col("factor"))
        .otherwise(F.col("u_con")),
    )
    d = d.withColumn(
        "t_sin",
        F.when(has("t_con") & ~has("t_sin"), F.col("t_con") / F.col("factor"))
        .otherwise(F.col("t_sin")),
    )
    d = d.withColumn(
        "t_con",
        F.when(has("t_sin") & ~has("t_con"), F.col("t_sin") * F.col("factor"))
        .otherwise(F.col("t_con")),
    )
    # rules 5-8 assign several columns: the kernel evaluates each rule's
    # `if` ONCE against pre-rule state, so the firing flag must be
    # materialized before the assignments (a chained condition would flip
    # after the rule's own first assignment)
    # rule 5: unit from total/qty
    d = d.withColumn(
        "_r5", ~has("u_sin") & has("t_sin") & has("qty") & (F.col("qty") > 0)
    )
    d = d.withColumn(
        "u_sin",
        F.when(F.col("_r5"), F.col("t_sin") / F.col("qty")).otherwise(F.col("u_sin")),
    ).withColumn(
        "u_con",
        F.when(F.col("_r5"), F.col("u_sin") * F.col("factor")).otherwise(
            F.col("u_con")
        ),
    )
    # rule 6: total from unit*qty
    d = d.withColumn(
        "_r6", ~has("t_sin") & has("u_sin") & has("qty") & (F.col("qty") > 0)
    )
    d = d.withColumn(
        "t_sin",
        F.when(F.col("_r6"), F.col("u_sin") * F.col("qty")).otherwise(F.col("t_sin")),
    ).withColumn(
        "t_con",
        F.when(F.col("_r6"), F.col("t_sin") * F.col("factor")).otherwise(
            F.col("t_con")
        ),
    )
    # rule 7: everything from u_con+qty
    d = d.withColumn("_r7", has("u_con") & has("qty") & ~has("t_sin"))
    d = (
        d.withColumn(
            "u_sin",
            F.when(F.col("_r7"), F.col("u_con") / F.col("factor")).otherwise(
                F.col("u_sin")
            ),
        )
        .withColumn(
            "t_sin",
            F.when(F.col("_r7"), F.col("u_sin") * F.col("qty")).otherwise(
                F.col("t_sin")
            ),
        )
        .withColumn(
            "t_con",
            F.when(F.col("_r7"), F.col("u_con") * F.col("qty")).otherwise(
                F.col("t_con")
            ),
        )
    )
    # rule 8: everything from t_con+qty
    d = d.withColumn("_r8", has("t_con") & has("qty") & ~has("u_sin"))
    d = (
        d.withColumn(
            "t_sin",
            F.when(F.col("_r8"), F.col("t_con") / F.col("factor")).otherwise(
                F.col("t_sin")
            ),
        )
        .withColumn(
            "u_sin",
            F.when(F.col("_r8"), F.col("t_sin") / F.col("qty")).otherwise(
                F.col("u_sin")
            ),
        )
        .withColumn(
            "u_con",
            F.when(F.col("_r8"), F.col("u_sin") * F.col("factor")).otherwise(
                F.col("u_con")
            ),
        )
    )
    return d.select(
        "o_orderkey",
        "escenario",
        "tipo",
        F.col("u_sin").alias("precio_unitario_sin_iva"),
        F.col("u_con").alias("precio_unitario_con_iva"),
        F.col("t_sin").alias("precio_total_linea_sin_iva"),
        F.col("t_con").alias("precio_total_linea_con_iva"),
    ).orderBy("o_orderkey")


def f12_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 additive confidence scoring oracle-hashed (index.ts:1697-1712):
    base 0.3; +0.2 supplier found, +0.15 CIF len>=9, +0.1 invoice number
    len>=2, +0.15 total>0, +0.1 base>0, +0.1 coherent (|total-(base+
    cuota)| <= 0.1); cap 1.0; sub-confidences x0.8/0.9/0.85, all JS 2dp
    rounded. Extraction-state flags synthesized bitwise from o_orderkey
    (all 64 flag combinations appear); amounts from o_totalprice with an
    incoherence offset on half the rows."""
    o = _t(spark, sf_dir, "orders", fan_key="o_orderkey").filter(
        F.col("o_orderkey") <= 5000
    )
    bit = lambda n: F.expr(f"(o_orderkey div {2 ** n}) % 2 = 1")  # noqa: E731
    total = F.when(bit(3), F.col("o_totalprice")).otherwise(F.lit(0.0))
    base = F.when(bit(4), F.col("o_totalprice") / 1.21).otherwise(F.lit(0.0))
    cuota = F.when(
        bit(5), total - base
    ).otherwise(F.lit(0.0))  # bit5 -> coherent triple, else drift
    conf = (
        F.lit(0.3)
        + F.when(bit(0), 0.2).otherwise(0.0)
        + F.when(bit(1), 0.15).otherwise(0.0)
        + F.when(bit(2), 0.1).otherwise(0.0)
        + F.when(total > 0, 0.15).otherwise(0.0)
        + F.when(base > 0, 0.1).otherwise(0.0)
        + F.when(F.abs(total - (base + cuota)) <= 0.1, 0.1).otherwise(0.0)
    )
    conf = F.least(conf, F.lit(1.0))
    return o.select(
        "o_orderkey",
        _r(conf).alias("confianza_global"),
        _r(conf * 0.8).alias("confianza_proveedor"),
        _r(conf * 0.9).alias("confianza_datos_fiscales"),
        _r(conf * 0.85).alias("confianza_importes"),
    ).orderBy("o_orderkey")


def p13_price_per_unit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P13 EUR/kg + EUR/l normalization with the P11 inference fallback,
    oracle-hashed (calculatePricePerKg/Liter index.ts:3171-3246;
    inferFormatFromDescription :3033-3124): explicit format wins, else the
    FIRST KB entry whose keywords all appear in the description supplies
    peso/vol — the KB is a 34-row broadcast dim joined on the contains
    condition with argmin-by-entry-order (exactly the kernel's loop).
    Synthesized descriptions cycle through every KB entry plus an
    explicit-kg row, an explicit-cl row (unit conversion /100), and a
    no-format row; every 7th row has price 0 (JS-falsy gate -> null)."""
    from facturas_spark.extraction.products import _KB

    part = _t(spark, sf_dir, "part", fan_key="p_partkey").filter(

        F.col("p_partkey") <= 400

    )
    n_kb = len(_KB)
    s = F.col("p_partkey") % (n_kb + 3)
    kb_words = F.element_at(
        F.array(*[F.lit(f"{w[0]} {w[1]}") for w, _, _, _ in _KB] + [F.lit("")] * 3),
        (s + 1).cast("int"),
    )
    desc = (
        F.when(s < n_kb, F.concat(F.lit("prod "), kb_words))
        .when(s == n_kb, F.lit("cosa 2,5 kg especial"))
        .when(s == n_kb + 1, F.lit("cosa 75 cl botella"))
        .otherwise(F.lit("nada interesante"))
    )
    precio = F.when(F.col("p_partkey") % 7 == 0, F.lit(0.0)).otherwise(
        F.col("p_retailprice")
    )
    base = part.select(
        "p_partkey", desc.alias("descripcion"), precio.alias("precio")
    )
    # explicit P10 subset: kg direct, cl -> /100
    peso_exp = F.regexp_extract("descripcion", r"(\d+(?:[,\.]\d+)?)\s*kg", 1)
    vol_exp = F.regexp_extract("descripcion", r"(\d+(?:[,\.]\d+)?)\s*cl", 1)
    base = base.withColumn(
        "peso_explicito",
        F.when(peso_exp != "", F.translate(peso_exp, ",", ".").cast("double")),
    ).withColumn(
        "vol_explicito",
        F.when(vol_exp != "", F.translate(vol_exp, ",", ".").cast("double") / 100),
    )
    kb = spark.createDataFrame(
        [
            (i, w[0], w[1], peso, vol)
            for i, (w, peso, vol, _fmt) in enumerate(_KB)
        ],
        "kb_idx int, w1 string, w2 string, kb_peso double, kb_vol double",
    )
    low = F.lower(F.col("descripcion"))
    inferred = (
        base.join(
            F.broadcast(kb), low.contains(F.col("w1")) & low.contains(F.col("w2"))
        )
        .groupBy("p_partkey")
        .agg(
            F.min_by(F.struct("kb_peso", "kb_vol"), F.col("kb_idx")).alias("_kb")
        )
        .select(
            "p_partkey",
            F.col("_kb.kb_peso").alias("peso_kb"),
            F.col("_kb.kb_vol").alias("vol_kb"),
        )
    )
    d = base.join(inferred, "p_partkey", "left")
    has = lambda c: c.isNotNull() & (c > 0)  # noqa: E731
    peso = F.when(has(F.col("peso_explicito")), F.col("peso_explicito")).otherwise(
        F.col("peso_kb")
    )
    vol = F.when(has(F.col("vol_explicito")), F.col("vol_explicito")).otherwise(
        F.col("vol_kb")
    )
    return d.select(
        "p_partkey",
        "descripcion",
        F.when(has(F.col("precio")) & has(peso), _r(F.col("precio") / peso)).alias(
            "precio_por_kg"
        ),
        F.when(has(F.col("precio")) & has(vol), _r(F.col("precio") / vol)).alias(
            "precio_por_litro"
        ),
    ).orderBy("p_partkey")


_P14_TYPE_MARKERS = [
    "pollo", "cerveza", "chuleta", "merluza", "queso", "tomate", "pan", "cosa",
]
_P14_FMT_FRAGMENTS = [
    "12 docena", "24x33cl pack", "2,5 kg", "6 piezas", "70 cl",
    "rioja reserva", "sin formato",
]


def p14_multi_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P14 dashboard multi-price calculator oracle-hashed
    (smart-calculations.js:13-273 via extraction.dashboard_calc): the
    8-type regex cascade (preserving the quirk that 'pollo' hits huevos
    before carne), the first-match format parser (egg counts with docena
    x12 — whose pattern also catches plain 'unidades' before the
    unit-count rule — pack NxVcl syntax, weights g->kg, unit counts,
    liquids cl/ml->l, wine fallback to the standard 75cl bottle; an
    explicit formato_comercial overrides the description), and the
    per-(tipo, formato) price fan-out. Synthesized rows cross every type
    marker with every format fragment; every 5th row carries a formato
    override ('1 kg')."""
    part = _t(spark, sf_dir, "part", fan_key="p_partkey").filter(
        F.col("p_partkey") <= 400
    )
    k = F.col("p_partkey")
    marker = F.element_at(
        F.array(*[F.lit(m) for m in _P14_TYPE_MARKERS]), (k % 8 + 1).cast("int")
    )
    frag = F.element_at(
        F.array(*[F.lit(f) for f in _P14_FMT_FRAGMENTS]),
        (F.expr("p_partkey div 8") % 7 + 1).cast("int"),
    )
    desc = F.concat(marker, F.lit(" "), frag)
    formato = F.when(k % 5 == 0, F.lit("1 kg"))
    precio = F.col("p_retailprice")
    d = part.select(
        "p_partkey", desc.alias("descripcion"), formato.alias("formato_comercial"),
        precio.alias("precio"),
    )
    low_desc = F.lower(F.col("descripcion"))
    tipo = F  # F.when opens the chain, Column.when extends it
    for name, pat in _TYPE_RULES:
        tipo = tipo.when(low_desc.rlike(_rx(pat)), name)
    tipo = tipo.otherwise("general")
    text = F.lower(F.coalesce("formato_comercial", "descripcion"))
    h_pat, pack_pat, peso_pat, uni_pat, liq_pat, vino_pat = map(
        _rx, (_HUEVOS, _PACK, _PESO, _UNIDADES, _LIQUIDO, _VINO)
    )
    num = lambda pat, g: F.translate(  # noqa: E731
        F.regexp_extract(text, pat, g), ",", "."
    ).cast("double")
    h_uds = F.when(
        F.regexp_extract(text, h_pat, 2).isin("docena", "docenas"),
        num(h_pat, 1) * 12,
    ).otherwise(num(h_pat, 1))
    pack_vol_l = F.when(
        F.regexp_extract(text, pack_pat, 3) == "cl", num(pack_pat, 2) / 100
    ).when(
        F.regexp_extract(text, pack_pat, 3) == "ml", num(pack_pat, 2) / 1000
    ).otherwise(num(pack_pat, 2))
    peso_kg = F.when(
        F.regexp_extract(text, peso_pat, 2).isin("g", "gramos"),
        num(peso_pat, 1) / 1000,
    ).otherwise(num(peso_pat, 1))
    liq_l = F.when(
        F.regexp_extract(text, liq_pat, 2) == "cl", num(liq_pat, 1) / 100
    ).when(
        F.regexp_extract(text, liq_pat, 2) == "ml", num(liq_pat, 1) / 1000
    ).otherwise(num(liq_pat, 1))
    ft = (
        F.when(text.rlike(h_pat), "huevos")
        .when(text.rlike(pack_pat), "bebida")
        .when(text.rlike(peso_pat), "peso")
        .when(text.rlike(uni_pat), "unidades")
        .when(text.rlike(liq_pat), "liquido")
        .when(text.rlike(vino_pat), "bebida")
    )
    f_uds = (
        F.when(ft == "huevos", h_uds)
        .when(
            ft == "bebida",
            F.when(text.rlike(pack_pat), num(pack_pat, 1)).otherwise(F.lit(1.0)),
        )
        .when(ft == "unidades", num(uni_pat, 1))
    )
    f_vol_total = F.when(
        ft == "bebida",
        F.when(text.rlike(pack_pat), num(pack_pat, 1) * pack_vol_l).otherwise(
            F.lit(0.75)
        ),
    )
    f_peso = F.when(ft == "peso", peso_kg)
    f_liq = F.when(ft == "liquido", liq_l)
    d = (
        d.withColumn("tipo", tipo)
        .withColumn("formato_tipo", ft)
        .withColumn("_uds", f_uds)
        .withColumn("_volt", f_vol_total)
        .withColumn("_peso", f_peso)
        .withColumn("_liq", f_liq)
    )
    t, f = F.col("tipo"), F.col("formato_tipo")
    p = F.col("precio")
    return d.select(
        "p_partkey",
        "descripcion",
        "formato_comercial",
        "tipo",
        "formato_tipo",
        F.when((t == "huevos") & (f == "huevos"), p / F.col("_uds")).alias(
            "precio_por_huevo"
        ),
        F.when((t == "bebida") & (f == "bebida"), p / F.col("_uds"))
        .when((t == "bebida") & (f == "unidades"), p / F.col("_uds"))
        .alias("precio_por_unidad"),
        F.when((t == "bebida") & (f == "bebida"), p / F.col("_volt"))
        .when((t == "bebida") & (f == "unidades"), p / (F.col("_uds") * 0.75))
        .when((t == "lacteo") & (f == "liquido"), p / F.col("_liq"))
        .alias("precio_por_litro"),
        F.when(t.isin("carne", "pescado", "verdura", "panaderia") & (f == "peso"), p / F.col("_peso"))
        .when((t == "lacteo") & (f == "peso"), p / F.col("_peso"))
        .alias("precio_por_kg"),
        F.when(
            t.isin("carne", "pescado", "verdura", "panaderia") & (f == "unidades"),
            p / F.col("_uds"),
        ).alias("precio_por_pieza"),
    ).orderBy("p_partkey")


_P4P7_CODES = ["ABC123", "4567", "prod AB12", "prod 123X", "prod"]
_P4P7_QTYS = ["2,5 kg", "3 uds", "0 g", "7,25", ""]
_P4P7_PRICES = ["12,34 €", "€ 5", "9,99 euros", "8,88", ""]


def p4_p7_line_parsers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4-P7 line parsers oracle-hashed (extractQuantity/Price/Code/Unit,
    index.ts:1877-1979): four first-match regex cascades, where the
    quantity and price cascades FALL THROUGH to the next pattern when the
    parsed value is not > 0 (a '0 g' token skips to the line-leading
    number rules). Lines synthesized as code x quantity x price fragment
    crosses (125 combos cycling over part keys); defaults qty=1.0,
    price/code/unit null."""
    part = _t(spark, sf_dir, "part", fan_key="p_partkey").filter(
        F.col("p_partkey") <= 500
    )
    k = F.col("p_partkey")
    pick = lambda arr, idx: F.element_at(  # noqa: E731
        F.array(*[F.lit(x) for x in arr]), (idx + 1).cast("int")
    )
    line = F.concat_ws(
        " ",
        pick(_P4P7_CODES, k % 5),
        pick(_P4P7_QTYS, F.expr("p_partkey div 5") % 5),
        F.lit("con"),
        pick(_P4P7_PRICES, F.expr("p_partkey div 25") % 5),
    )
    return (
        part.select("p_partkey", line.alias("linea"))
        .select("p_partkey", "linea", *_line_parsers(F.col("linea")))
        .orderBy("p_partkey")
    )


def _line_parsers(line: Column) -> list[Column]:
    """P4-P7 over a line column, from the kernels' pattern tables: the
    first pattern with a match wins; quantity and price fall through to
    the next pattern unless the value parses > 0. Columns cantidad (1.0
    default), precio, codigo, unidad (lower-cased; null defaults)."""

    def group(p):
        ex = F.regexp_extract(line, _rx(p), 1)
        return F.when(ex != "", ex)

    def positive(p):
        val = F.translate(group(p), ",", ".").try_cast("double")
        return F.when(val > 0, val)

    return [
        F.coalesce(*map(positive, _QTY_PATTERNS), F.lit(1.0)).alias("cantidad"),
        F.coalesce(*map(positive, _PRICE_PATTERNS)).alias("precio"),
        F.coalesce(*map(group, _CODE_PATTERNS)).alias("codigo"),
        F.lower(F.coalesce(*map(group, _UNIT_PATTERNS))).alias("unidad"),
    ]


def s2_mime_sniffing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 MIME sniffing oracle-hashed (index.ts:4394-4409 via
    sources.io.mime_from_url): extension routing with the whatsapp_-prefix
    override and pdf default, rolled up per mime type. Urls synthesized
    from part keys covering every branch including uppercase extensions
    and extensionless names."""
    from facturas_spark.sources.io import mime_from_url

    part = _t(spark, sf_dir, "part", fan_key="p_partkey").filter(

        F.col("p_partkey") <= 600

    )
    k = F.col("p_partkey")
    name = F.element_at(
        F.array(
            F.lit("factura.pdf"),
            F.lit("foto.JPG"),
            F.lit("scan.jpeg"),
            F.lit("captura.PNG"),
            F.lit("whatsapp_123.png"),  # prefix override beats extension
            F.lit("documento.docx"),    # unknown -> default pdf
            F.lit("sin_extension"),
        ),
        (k % 7 + 1).cast("int"),
    )
    urls = part.select(
        "p_partkey",
        F.concat(F.lit("https://x.example/d/"), k.cast("string"), F.lit("/"), name).alias(
            "url"
        ),
    )
    return (
        urls.select(mime_from_url(F.col("url")).alias("mime"))
        .groupBy("mime")
        .agg(F.count("*").alias("docs"))
        .orderBy("mime")
    )


def f2_invoice_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 invoice-number extraction oracle-hashed (the 6-pattern bank at
    index.ts:1242-1255 + the shortest-candidate pick at :1600-1611):
    candidates collected in pattern order then text order, whitespace
    normalized, filtered to len 1..25 with a digit, then the SHORTEST wins
    with ties to the earliest candidate (JS stable sort) — implemented as
    a first-wins strictly-less argmin fold in both engines. The keyword
    gate (factura/invoice/nº/num/fn) guards the whole bank. Texts
    synthesized per order key cover multi-candidate ties, the greedy
    uppercase-class capture of pattern 5, and gate misses."""
    o = _t(spark, sf_dir, "orders", fan_key="o_orderkey").filter(
        F.col("o_orderkey") <= 5000
    )
    k = F.col("o_orderkey")
    d2 = F.lpad((k % 100).cast("string"), 2, "0")
    d3 = (k % 900 + 100).cast("string")
    d4 = (k % 9000 + 1000).cast("string")
    d5 = (k % 90000 + 10000).cast("string")
    s = k % 6
    txt = (
        F.when(s == 0, F.concat(F.lit("Nº FACTURA\n"), d5, F.lit(" texto FACTURA "), d3))
        .when(s == 1, F.concat(F.lit("factura: "), d3, F.lit("-"), d2, F.lit("/A total")))
        .when(s == 2, F.concat(F.lit("NUM "), d4, F.lit(" y f.n: "), d2))
        .when(s == 3, F.concat(F.lit("invoice # "), d3))
        .when(s == 4, F.lit("sin referencia alguna 123"))
        .otherwise(F.concat(F.lit("FACTURA\n"), d2))
    )
    d = o.select("o_orderkey", s.alias("escenario"), txt.alias("texto"))
    t = F.col("texto")
    cands = F.concat(*[F.regexp_extract_all(t, F.lit(_rx(p)), 1) for p in _PAT_NUMERO])
    cands = F.filter(
        F.transform(cands, lambda c: F.trim(c)), lambda c: c != ""
    )
    cands = F.transform(
        cands, lambda c: F.trim(F.regexp_replace(c, r"\s+", " "))
    )
    cands = F.filter(
        cands,
        lambda c: (F.length(c) >= 1) & (F.length(c) <= 25) & c.rlike(r"\d"),
    )
    pick = F.aggregate(
        cands,
        F.lit(None).cast("string"),
        lambda acc, c: F.when(
            acc.isNull() | (F.length(c) < F.length(acc)), c
        ).otherwise(acc),
    )
    low = F.lower(t)
    gate = t.rlike(r"\d") & (
        low.contains("factura")
        | low.contains("invoice")
        | low.contains("nº")
        | low.contains("num")
        | low.contains("fn")
        | low.contains("f.n")
    )
    return d.select(
        "o_orderkey",
        "escenario",
        "texto",
        F.when(gate & pick.isNotNull(), pick)
        .otherwise(F.lit("SIN_NUMERO"))
        .alias("numero_factura"),
    ).orderBy("o_orderkey")


def f1_cif_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 CIF/NIF bank oracle-hashed (index.ts:1230-1239 + selection at
    :1634): candidates in pattern order then text order, separators
    stripped, first with len >= 9 wins else the first candidate. Two
    preserved quirks: the 4th pattern's alternatives 2/3 have no capture
    group so their matches contribute NOTHING (JS keeps m[1] only — a
    bare NIF like 12345678Z is invisible to this bank), and (?i) lets
    lowercase prefixes match. Texts synthesized per key cover plain,
    dashed, labeled, NIF-dropped, lowercase, short-fallback and no-CIF
    shapes."""
    o = _t(spark, sf_dir, "orders", fan_key="o_orderkey").filter(
        F.col("o_orderkey") <= 5000
    )
    k = F.col("o_orderkey")
    d8 = F.lpad(((k * 37) % 100000000).cast("string"), 8, "0")
    s = k % 7
    txt = (
        F.when(s == 0, F.concat(F.lit("empresa B"), d8, F.lit(" activa")))
        .when(s == 1, F.concat(F.lit("ref B-"), d8, F.lit("9 x")))
        .when(s == 2, F.concat(F.lit("C.I.F.: A-"), d8, F.lit(" sociedad")))
        .when(s == 3, F.concat(F.lit("dni "), d8, F.lit("Z fin")))
        .when(s == 4, F.concat(F.lit("b"), d8, F.lit(" minuscula")))
        .when(s == 5, F.concat(F.lit("CIF: A-"), F.substring(d8, 1, 7), F.lit(" corto")))
        .otherwise(F.lit("sin identificador 99"))
    )
    d = o.select("o_orderkey", s.alias("escenario"), txt.alias("texto"))
    t = F.col("texto")
    arrs = [F.regexp_extract_all(t, F.lit(_rx(p)), 1) for p in _PAT_CIF]
    cands = F.filter(
        F.transform(F.concat(*arrs), lambda c: F.trim(c)), lambda c: c != ""
    )
    cleaned = F.transform(cands, lambda c: F.regexp_replace(c, r"[\s\-\.]", ""))
    pick = F.coalesce(
        F.try_element_at(
            F.filter(cleaned, lambda c: F.length(c) >= 9), F.lit(1)
        ),
        F.try_element_at(cleaned, F.lit(1)),
    )
    return d.select(
        "o_orderkey",
        "escenario",
        "texto",
        F.when(t.rlike(r"\d"), pick).alias("proveedor_cif"),
    ).orderBy("o_orderkey")


def f4_f6_amount_banks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4/F5/F6 labeled-amount banks + the F6 tipo rule, oracle-hashed
    (index.ts:1274-1315,1637-1644): per bank, candidates in pattern/text
    order are parsed (candidate shapes make parse_importe collapse to
    comma->dot + JS 2dp rounding) and the MAX positive wins, 0.0 default;
    tipo candidates are 0..30-gated ints preferring the first in
    {4,10,21}, else the first candidate, else 21. Keyword gates guard
    each bank. Texts synthesized per key cover multi-candidate pick-max,
    value-before-label captures, the IVA-rate-token-as-cuota quirk, the
    out-of-range tipo filter, and all-defaults."""
    # fanned out at every scale, not behind table_scan's fan gate: the
    # filter keeps a constant ~5k rows, and the three amount banks cost
    # ~3x the other banks per row. Round-8 A/B at sf0.1 (interleaved, min
    # of 3): fanned/unfanned 0.63 here; f1 1.54, f2 1.40, f8 1.74, f11
    # 1.63, f12 1.56 and p9 1.30 lose, so they keep the gate.
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 5000)
        .repartition(spark.sparkContext.defaultParallelism, "o_orderkey")
    )
    k = F.col("o_orderkey")
    a = lambda mult: F.concat(  # noqa: E731
        ((k * mult) % 9000 + 1000).cast("string"),
        F.lit(","),
        F.lpad((k % 100).cast("string"), 2, "0"),
    )
    s = k % 6
    txt = (
        F.when(
            s == 0,
            F.concat(
                F.lit("TOTAL: "), a(7), F.lit(" € BASE IMPONIBLE "), a(3),
                F.lit(" IVA 21% "), a(2), F.lit(" IMPORTE TOTAL "), a(9), F.lit(" €"),
            ),
        )
        .when(
            s == 1,
            F.concat(
                F.lit("SUMA TOTAL "), a(7), F.lit(" subtotal: "), a(3),
                F.lit(" € cuota iva: "), a(2), F.lit(" al 10 %"),
            ),
        )
        .when(s == 2, F.concat(a(3), F.lit(" € BASE y "), a(2), F.lit(" IVA")))
        .when(
            s == 3,
            F.concat(
                F.lit("LIQUIDO (EUR): "), a(7), F.lit(" NETO "), a(3),
                F.lit(" I.V.A.: "), a(2), F.lit(" IVA 5%"),
            ),
        )
        .when(s == 4, F.lit("IVA 99 algo"))
        .otherwise(F.lit("texto sin importes"))
    )
    d = o.select("o_orderkey", s.alias("escenario"), txt.alias("texto"))
    t = F.col("texto")
    low = F.lower(t)
    has_digit = t.rlike(r"\d")

    def bank_max(patterns, gate):
        arrs = [F.regexp_extract_all(t, F.lit(_rx(p)), 1) for p in patterns]
        cands = F.filter(
            F.transform(F.concat(*arrs), lambda c: F.trim(c)), lambda c: c != ""
        )
        parsed = F.filter(
            F.transform(
                cands,
                lambda c: _r(F.translate(c, ",", ".").try_cast("double")),
            ),
            lambda v: v > 0,
        )
        return F.when(gate & has_digit, F.coalesce(F.array_max(parsed), F.lit(0.0))).otherwise(
            F.lit(0.0)
        )

    total = bank_max(
        _PAT_TOTAL,
        low.contains("total") | low.contains("líquido") | low.contains("liquido")
        | low.contains("importe") | low.contains("suma"),
    )
    base = bank_max(
        _PAT_BASE,
        low.contains("base") | low.contains("subtotal") | low.contains("neto"),
    )
    cuota = bank_max(
        _PAT_CUOTA,
        low.contains("iva") | low.contains("i.v.a") | low.contains("cuota"),
    )
    tipo_arrs = [F.regexp_extract_all(t, F.lit(_rx(p)), 1) for p in _PAT_TIPO]
    tipo_gate = has_digit & (
        low.contains("iva") | low.contains("i.v.a") | low.contains("al")
    )
    tipos = F.filter(
        F.transform(
            F.filter(
                F.transform(F.concat(*tipo_arrs), lambda c: F.trim(c)),
                lambda c: c != "",
            ),
            lambda c: c.try_cast("int"),
        ),
        lambda n: n.isNotNull() & (n >= 0) & (n <= 30),
    )
    tipos = F.when(tipo_gate, tipos).otherwise(F.array().cast("array<int>"))
    tipo = F.coalesce(
        F.try_element_at(F.filter(tipos, lambda n: n.isin(4, 10, 21)), F.lit(1)),
        F.try_element_at(tipos, F.lit(1)),
        F.lit(21),
    )
    return d.select(
        "o_orderkey",
        "escenario",
        "texto",
        total.alias("total_factura"),
        base.alias("base_imponible"),
        cuota.alias("cuota_iva"),
        tipo.alias("tipo_iva"),
    ).orderBy("o_orderkey")


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content hash (hash-groupBy): md5 of normalized text;
    emit duplicate-group stats. The normalized md5 doubles as the document
    fingerprint operator."""
    docs = _t(spark, sf_dir, "documents", fan_key="doc_id")
    fp = F.md5(F.lower(F.regexp_replace(F.coalesce("text", F.lit("")), r"\s+", " ")))
    groups = (
        docs.select(fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("copies"))
    )
    return groups.agg(
        F.count("*").alias("unique_docs"),
        F.sum(F.when(F.col("copies") > 1, 1).otherwise(0)).alias("dup_groups"),
        F.sum(F.when(F.col("copies") > 1, F.col("copies")).otherwise(0)).alias("docs_in_dup_groups"),
        F.max("copies").alias("max_copies"),
    )


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over the embeddings table (SURVEY §2.5 M6 /
    §2.6 Q15). Query vector = embedding of vec_id 0 (deterministic). The
    dot/norm runs JVM-side via aggregate/zip_with — no Python in the loop;
    TakeOrderedAndProject caps the shuffle at k rows per partition."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    qlit = F.array(*[F.lit(float(x)) for x in q])
    dot = F.aggregate(
        F.zip_with(F.col("embedding"), qlit, lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm_a = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    qn = float(sum(float(x) * float(x) for x in q) ** 0.5)
    sim = dot / (norm_a * F.lit(qn))
    return (
        emb.filter(F.col("vec_id") != 0)
        .select("vec_id", F.round(sim, 4).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


# ------------------------------------------------------- event windows ----
def stream_window_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour, per-event-type event counts and value totals: a tumbling
    1-hour ``F.window`` run in batch mode (the name is historical — the
    registry key stays). The cross-engine oracle gate pins Spark's
    epoch-aligned window boundaries against DuckDB's.

    Integer-cents sum (see _cents) keeps the total order-independent, so
    the hash matches DuckDB regardless of partitioning. Oracle twin:
    time_bucket(INTERVAL 1 hour) — epoch-aligned like F.window."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("ventana"), "event_type")
        .agg(
            F.count("*").alias("eventos"),
            F.sum(_cents(F.col("value"))).alias("_c"),
        )
        .select(
            F.date_format("ventana.start", "yyyy-MM-dd HH:mm:ss").alias("inicio"),
            "event_type",
            "eventos",
            F.expr("CAST(_c AS DOUBLE) / 100.0").alias("total_valor"),
        )
        .orderBy("inicio", "event_type")
    )


def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity rule) — the classic
    clickstream / training-data op: lag over (user, time) -> new-session
    flag -> running sum labels sessions -> per-session then per-user stats.

    All arithmetic is integer microseconds (unix_micros / epoch_us), so the
    result is exact and engine-independent. One hash shuffle on user_id —
    the lag window, the session-label window, and both aggregations all
    reuse that partitioning (verified: the only other Exchange in the plan
    is the final presentation orderBy's range partition); at 100 TB this is
    the canonical sort-within-user-partition pattern, no driver-side state."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 1800 * 1_000_000
    # events.ts is TIMESTAMP_NTZ; session TZ is pinned UTC (session.py:47),
    # so the cast is a no-op on the underlying micros
    _us = F.unix_micros(F.col("ts").cast("timestamp"))
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.when(
            _us - F.lag(_us).over(w) > gap_us, 1
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    sess = flagged.withColumn("session_id", F.sum("new_sess").over(w))
    per_sess = sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("eventos"),
        (F.max("us") - F.min("us")).alias("dur_us"),
    )
    return (
        per_sess.groupBy("user_id")
        .agg(
            F.count("*").alias("sesiones"),
            F.sum("eventos").alias("eventos"),
            F.max("dur_us").alias("max_dur_us"),
        )
        .orderBy("user_id")
    )


def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured sidecar parsing (every crawl/event pipeline carries
    a JSON metadata column): extract ``$.k`` from the events props JSON
    string, then integer-exact stats per event_type. get_json_object is
    JVM-side (Jackson); at scale this is a map stage fused into the scan —
    no UDF, no shuffle beyond the final per-type aggregation."""
    ev = _t(spark, sf_dir, "events", fan_key="event_id")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("eventos"),
            F.sum(F.when(F.col("k").isNotNull(), 1).otherwise(0)).alias("con_k"),
            F.sum("k").alias("suma_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )
