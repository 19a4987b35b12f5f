"""Entity/master layer (SURVEY §1.1 master entities, §2.6 Q13 family).

The reference maintains ``productos_maestro`` imperatively per document
(read-modify-write at process-invoice/index.ts:3424-3528: precio_ultimo,
min/max historico, promedio 30 dias, variacion %, numero_compras). Here the
same state is *recomputed declaratively* from the purchase log — one
aggregation + windows, idempotent, no row mutation (the scalable shape).

All queries are oracle-checked (DuckDB twins in __spark_entry__).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from facturas_spark.analytics.cache import table_scan as _t
from facturas_spark.analytics.queries import _cents, _rev_e4


def master_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """productos_maestro rebuilt from the purchase log: per product —
    last price (by shipdate/orderkey/linenumber), historic min/max/avg,
    purchase count, pct variation of the last purchase vs the previous.

    One shuffle on l_partkey: the window and the aggregation share the
    partitioning (Catalyst reuses the exchange)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_partkey") <= 500)
    w = Window.partitionBy("l_partkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    ranked = li.select(
        "l_partkey",
        "l_extendedprice",
        F.row_number().over(
            Window.partitionBy("l_partkey").orderBy(
                F.col("l_shipdate").desc(),
                F.col("l_orderkey").desc(),
                F.col("l_linenumber").desc(),
            )
        ).alias("_rn_desc"),
        F.lag("l_extendedprice").over(w).alias("_prev"),
    )
    last = ranked.filter(F.col("_rn_desc") == 1).select(
        "l_partkey",
        F.round("l_extendedprice", 2).alias("precio_ultimo"),
        F.round(
            (F.col("l_extendedprice") - F.col("_prev")) / F.col("_prev") * 100, 2
        ).alias("variacion_pct"),
    )

    hist = (
        li.groupBy("l_partkey")
        .agg(
            F.round(F.min("l_extendedprice"), 2).alias("precio_minimo_historico"),
            F.round(F.max("l_extendedprice"), 2).alias("precio_maximo_historico"),
            F.sum(_cents(F.col("l_extendedprice"))).alias("_c"),
            F.count("*").alias("numero_compras"),
        )
        # integer-exact half-up average (order-independent; see queries._cents)
        .withColumn(
            "precio_promedio",
            F.expr(
                "CAST((2 * _c + numero_compras) div (2 * numero_compras) AS DOUBLE) / 100.0"
            ),
        )
        .select(
            "l_partkey", "precio_minimo_historico", "precio_maximo_historico",
            "precio_promedio", "numero_compras",
        )
    )
    return (
        hist.join(last, "l_partkey")
        .orderBy("l_partkey")
    )


def supplier_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """proveedores dim analogue: per supplier — order volume, revenue,
    active span, nation (broadcast dim join).

    Round 8 (guide §2.2): aggregate by the supplier PK FIRST, attach the
    dim strings after — s_suppkey determines (s_name, n_name), so the
    lineitem-side partial agg hashes one long instead of a 3-part key
    with two strings (A/B row-identical; 1.43 -> 1.11 s at the sf1
    shape, 0.86 -> 0.66 at sf0.1). The scan fan was also A/B'd and lost
    (ratio 1.12): the partial agg collapses to ~|suppliers| rows before
    the only exchange."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")

    agg = (
        li.groupBy("l_suppkey")
        .agg(
            F.count("*").alias("num_lineas"),
            F.sum(_rev_e4()).alias("_r4"),
            F.to_date(F.min("l_shipdate")).alias("primera_venta"),
            F.to_date(F.max("l_shipdate")).alias("ultima_venta"),
        )
    )
    return (
        agg.join(F.broadcast(sup), agg.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .withColumn(
            "facturacion", F.expr("CAST((2 * _r4 + 100) div 200 AS DOUBLE) / 100.0")
        )
        .select(
            "s_suppkey", "s_name", "n_name", "num_lineas", "facturacion",
            "primera_venta", "ultima_venta",
        )
        .orderBy(F.col("facturacion").desc(), "s_suppkey")
        .limit(50)
    )


def price_history_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """historial_precios analogue: the append-only purchase log with the
    per-purchase delta vs the product's previous price (LAG) — what the
    reference writes imperatively per document (index.ts:3360-3404)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_partkey") <= 50)
    w = Window.partitionBy("l_partkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    return li.select(
        "l_partkey",
        F.to_date("l_shipdate").alias("fecha_compra"),
        F.round("l_extendedprice", 2).alias("precio"),
        F.round(F.col("l_extendedprice") - F.lag("l_extendedprice").over(w), 2).alias(
            "delta_precio"
        ),
        "l_orderkey",
        "l_linenumber",
    ).orderBy("l_partkey", "fecha_compra", "l_orderkey", "l_linenumber")
