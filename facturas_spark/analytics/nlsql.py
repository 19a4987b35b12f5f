"""Q14 — the NL->SQL analytics surface (ask-my-invoices).

The reference answers natural-language questions via (a) a keyword router
to a corpus of canned SQL templates, (b) an LLM SQL generator gated by a
safety filter, (c) semantic fallback. The LLM part is excluded (north rule:
deterministic); what we rebuild:

- :func:`detect_query_type` — the keyword router, exact rule order
  (ask-my-invoices/index.ts:375-439).
- :func:`is_sql_safe`       — the SQL safety filter (index.ts:1133-1164).
- ``q14_*`` queries         — the canned template corpus
  (CONSULTAS_BASICAS, index.ts:247-374) re-expressed over the orders /
  lineitem / supplier tables (facturas -> orders, proveedor -> supplier,
  productos -> part), each with a DuckDB oracle twin. ``current_date`` is
  replaced by the corpus max order date (deterministic for a fixed input,
  computed identically in both engines via a scalar subquery).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from facturas_spark.analytics.cache import table_scan as _t
from facturas_spark.analytics.queries import _cents, _rev_e4

__all__ = ["detect_query_type", "is_sql_safe"]


def detect_query_type(pregunta: str) -> str | None:
    """Keyword router, exact reference rule order."""
    p = pregunta.lower()
    if "última factura" in p and "sistema" not in p and "recibida" not in p:
        return "última_factura"
    if "última factura" in p and ("sistema" in p or "recibida" in p):
        return "ultima_factura_sistema"
    if "factura" in p and ("reciente" in p or "recibida" in p or "llegada" in p):
        return "facturas_recientemente_recibidas"
    if ("esta semana" in p or "semana actual" in p) and ("factura" in p or "gasto" in p):
        return "facturas_esta_semana"
    if ("este mes" in p or "mes actual" in p) and (
        "gast" in p or "dinero" in p or "total" in p
    ):
        return "gasto_este_mes"
    if "proveedor" in p and ("activo" in p or "último" in p or "reciente" in p):
        return "proveedores_activos"
    if "producto" in p and ("más" in p or "frecuente" in p or "comprado" in p):
        return "productos_mas_comprados"
    if "año" in p and ("resumen" in p or "total" in p or "gasto" in p):
        return "resumen_anual"
    if "proveedor" in p and ("top" in p or "principal" in p or "mayor" in p):
        return "top_proveedores"
    if "categoría" in p or "categoria" in p:
        return "productos_por_categoria"
    return None


_DANGEROUS = ["drop", "delete", "insert", "update", "create", "alter", "truncate"]


def is_sql_safe(sql: str, restaurante_id: str) -> bool:
    """SQL safety gate: SELECT-only, tenant filter present, no DDL/DML
    keywords, max one statement — exact reference checks."""
    lower = sql.lower().strip()
    if not lower.startswith("select"):
        return False
    if f"restaurante_id = '{restaurante_id}'" not in lower:
        return False
    if any(cmd in lower for cmd in _DANGEROUS):
        return False
    if ";" in lower and len(lower.split(";")) > 2:
        return False
    return True


# --- Q15 hybrid search cascade (busquedaHibridaRobusta, index.ts:687-922) ---

# The reference ships TWO keyword extractors with different rules; each is
# bound to its exact call site below.

_STOP_M2 = ("del", "con", "sin", "para", "por", "los", "las", "una", "uno")

_STOP_Q15 = (
    "el", "la", "los", "las", "de", "del", "en", "con", "por", "para", "a",
    "al", "un", "una", "unos", "unas", "que", "cual", "cuanto", "cuanta",
    "cuantos", "cuantas", "este", "esta", "estos", "estas", "ese", "esa",
    "esos", "esas", "aquel", "aquella", "aquellos", "aquellas",
)

_PURE_NUMBER = re.compile(r"^\d+$")


def extract_keywords_m2(descripcion: str, top: int = 3) -> list[str]:
    """M2 product keyword candidates (process-invoice/index.ts:2459-2465):
    lower -> strip all but [a-zA-Z0-9 ñáéíóúü] (accents SURVIVE here) ->
    split -> len>2 -> 9-word article list -> first 3."""
    words = re.sub(r"[^a-zA-Z0-9\sñáéíóúü]", " ", descripcion.lower()).split(" ")
    return [w for w in words if len(w) > 2 and w not in _STOP_M2][:top]


def extraer_palabras_clave(texto: str, top: int = 5) -> list[str]:
    """Q15 textual-search keywords (ask-my-invoices/index.ts:924-945),
    exact: JS ``\\w`` is ASCII-only, so the [^\\w\\s] strip REMOVES accented
    letters ('cuánto' -> 'cu nto' — faithful quirk), then normalize spaces,
    split, keep len>2, drop the 35-word article list and pure numbers,
    first 5."""
    limpio = re.sub(r"\s+", " ", re.sub(r"[^a-zA-Z0-9_\s]", " ", texto.lower())).strip()
    return [
        w
        for w in limpio.split(" ")
        if len(w) > 2 and w not in _STOP_Q15 and not _PURE_NUMBER.match(w)
    ][:top]




def busqueda_textual(
    spark: SparkSession, sf_dir: str, pregunta: str
) -> DataFrame:
    """Textual fallback (ask-my-invoices/index.ts:849-922): ILIKE-style
    substring match of the extracted keywords against product names (ANY
    keyword, as the reference ORs per-keyword queries), returning spend per
    matching product."""
    kws = extraer_palabras_clave(pregunta)
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    if not kws:
        return (
            li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .groupBy("p_name")
            .agg(F.round(F.sum("l_extendedprice"), 2).alias("gasto"))
            .limit(0)
        )
    cond = None
    for k in kws:
        c = F.lower(F.col("p_name")).contains(k)
        cond = c if cond is None else (cond | c)
    return (
        li.join(F.broadcast(part.filter(cond)), li.l_partkey == part.p_partkey)
        .groupBy("p_name")
        .agg(
            F.count("*").alias("num_compras"),
            F.sum(_rev_e4()).alias("_r4"),
        )
        # integer-exact half-up 2dp (order-independent; see queries._rev_e4)
        .withColumn("gasto", F.expr("CAST((2 * _r4 + 100) div 200 AS DOUBLE) / 100.0"))
        .select("p_name", "num_compras", "gasto")
        .orderBy(F.col("gasto").desc(), "p_name")
        .limit(20)
    )


def q15_hybrid_textual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable instance of the Q15 cascade's textual fallback with
    a fixed question whose template lookup misses ('cuanto he comprado de
    widget rojo y bolt' -> keywords [comprado, widget, rojo, bolt]: 'cuanto'
    and 'de' fall to the stopword list, 'comprado' faithfully survives —
    the reference list doesn't include it)."""
    return busqueda_textual(spark, sf_dir, "cuanto he comprado de widget rojo y bolt")


def q15_semantic_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic stage of the Q15 cascade (buscarSemanticamente,
    ask-my-invoices/index.ts:507-608), exact shape: candidates are
    pre-capped to the TOP-20 by frecuencia_uso BEFORE scoring (:536-538),
    cosine clamps negatives to 0 (:677 Math.max(0, sim)), matches must
    exceed the 0.7 umbral STRICTLY (:569), result sorts by similitud desc
    (:598). frecuencia_uso is synthesized as 50 - vec_id % 50 (ties by
    vec_id, matching Postgres's deterministic tie order here); the query
    embedding is vec 0's, so the corpus self-match is the only vector
    above the reference threshold in this synthetic corpus.

    Scale shape: the candidate cap makes the scored set tiny, so the
    cosine runs on a broadcast-joined 20-row frame — no full-corpus scan
    at serving time (the full-corpus path is ann_cosine_topk)."""
    emb = _t(spark, sf_dir, "embeddings")
    ranked = (
        emb.select(
            "vec_id",
            "embedding",
            (50 - F.col("vec_id") % 50).alias("frecuencia_uso"),
        )
        .orderBy(F.col("frecuencia_uso").desc(), "vec_id")
        .limit(20)
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    dot = F.aggregate(
        F.zip_with(
            "embedding", "qe", lambda a, b: a.cast("double") * b.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(c, lambda v: v.cast("double") * v.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    sim = F.greatest(F.lit(0.0), dot / (norm("embedding") * norm("qe")))
    return (
        ranked.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "frecuencia_uso",
            F.round(sim, 4).alias("similitud"),
        )
        .filter(F.col("similitud") > 0.7)
        .orderBy(F.col("similitud").desc(), "vec_id")
    )


def q15_datos_basicos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-chance fallback of the Q15 cascade (getDatosBasicosRestaurante,
    ask-my-invoices/index.ts:948-1001): three independent top-5s — latest
    invoices by date, priciest product lines, biggest invoices by total —
    returned as one stacked frame tagged by ``seccion`` (the reference
    returns them as three keys of one JSON object). Each branch is a
    TakeOrderedAndProject (no full sort, no extra shuffle); the union is
    read-time only."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    resumen = (
        orders.orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
        .limit(5)
        .select(
            F.lit("resumen_facturas").alias("seccion"),
            F.col("o_orderkey").alias("item_id"),
            F.round("o_totalprice", 2).alias("importe"),
        )
    )
    top_prod = (
        li.orderBy(
            F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber"
        )
        .limit(5)
        .select(
            F.lit("top_productos").alias("seccion"),
            F.col("l_partkey").alias("item_id"),
            F.round("l_extendedprice", 2).alias("importe"),
        )
    )
    top_prov = (
        orders.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(5)
        .select(
            F.lit("top_proveedores").alias("seccion"),
            F.col("o_custkey").alias("item_id"),
            F.round("o_totalprice", 2).alias("importe"),
        )
    )
    return resumen.unionByName(top_prod).unionByName(top_prov).orderBy(
        "seccion", F.col("importe").desc(), "item_id"
    )


def q14_ultima_factura(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'última_factura' (CONSULTAS_BASICAS, ask-my-invoices/index.ts:248-260
    exact): ORDER BY fecha_extraccion DESC, fecha_factura DESC (the
    reference's plain variant also leads with the extraction date — only
    the selected columns differ from the sistema variant), LIMIT 1;
    dias_diferencia = fecha_extraccion - fecha_factura. Key desc appended
    for a deterministic tie-break."""
    o = _with_extraccion(_t(spark, sf_dir, "orders"))
    return (
        o.select(
            "o_orderkey",
            "o_custkey",
            F.to_date("o_orderdate").alias("fecha_factura"),
            "fecha_extraccion",
            F.round("o_totalprice", 2).alias("total_factura"),
            F.datediff("fecha_extraccion", F.to_date("o_orderdate")).alias(
                "dias_diferencia"
            ),
        )
        .orderBy(
            F.col("fecha_extraccion").desc(),
            F.col("fecha_factura").desc(),
            F.col("o_orderkey").desc(),
        )
        .limit(1)
    )


def q14_facturas_semana(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'facturas_esta_semana': count + spend since the Monday of the anchor
    week (date_trunc('week'))."""
    orders = _t(spark, sf_dir, "orders")
    anchor = orders.agg(
        F.date_trunc("week", F.max("o_orderdate")).alias("_semana")
    )
    return (
        orders.crossJoin(F.broadcast(anchor))
        .filter(F.col("o_orderdate") >= F.col("_semana"))
        .agg(
            F.count("*").alias("total_facturas"),
            F.sum(_cents(F.col("o_totalprice"))).alias("_c"),
        )
        .withColumn("total_gastado", F.expr("CAST(_c AS DOUBLE) / 100.0"))
        .select("total_facturas", "total_gastado")
    )


def q14_gasto_mes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'gasto_este_mes': spend in the anchor month (date_trunc('month'))."""
    orders = _t(spark, sf_dir, "orders")
    anchor = orders.agg(
        F.date_trunc("month", F.max("o_orderdate")).alias("_mes")
    )
    return (
        orders.crossJoin(F.broadcast(anchor))
        .filter(F.date_trunc("month", F.col("o_orderdate")) == F.col("_mes"))
        .agg(F.sum(_cents(F.col("o_totalprice"))).alias("_c"))
        .select(F.expr("CAST(_c AS DOUBLE) / 100.0").alias("total_mes"))
    )


def q14_proveedores_activos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'proveedores_activos': per-supplier volume in the trailing 30 days of
    the anchor; supplier resolved through lineitem (broadcast dim join)."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    anchor = li.agg(F.max(F.to_date("l_shipdate")).alias("_hoy"))
    return (
        li.crossJoin(F.broadcast(anchor))
        .filter(F.to_date("l_shipdate") >= F.date_sub(F.col("_hoy"), 30))
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .groupBy("s_name")
        .agg(
            F.count("*").alias("num_facturas"),
            F.sum(_rev_e4()).alias("_r4"),
        )
        .withColumn(
            "total_gastado", F.expr("CAST((2 * _r4 + 100) div 200 AS DOUBLE) / 100.0")
        )
        .select("s_name", "num_facturas", "total_gastado")
        .orderBy(F.col("total_gastado").desc(), "s_name")
    )


def q14_resumen_anual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'resumen_anual': per-year count/sum/avg (integer-exact avg cents so
    both engines round identically)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.year("o_orderdate").alias("anio"))
        .agg(
            F.count("*").alias("total_facturas"),
            F.sum(_cents(F.col("o_totalprice"))).alias("_c"),
        )
        .withColumn("total_gastado", F.expr("CAST(_c AS DOUBLE) / 100.0"))
        .withColumn(
            "promedio_factura",
            F.expr(
                "CAST((2 * _c + total_facturas) div (2 * total_facturas) AS DOUBLE)"
                " / CAST(100 AS DOUBLE)"
            ),
        )
        .select("anio", "total_facturas", "total_gastado", "promedio_factura")
        .orderBy(F.col("anio").desc())
    )


def q14_top_proveedores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'top_proveedores': top-5 suppliers by spend.

    Round 8 (guide §2.2): pre-aggregate by the supplier PK, join the dim
    after, re-aggregate by name — count/sum decompose EXACTLY over longs,
    so the result is identical even if two suppliers shared a name, while
    the 6M-row partial agg hashes one long key instead of a string
    (A/B row-identical; 1.15 -> 1.01 s sf1 shape, 0.61 -> 0.56 sf0.1)."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    agg = li.groupBy("l_suppkey").agg(
        F.count("*").alias("_n"), F.sum(_rev_e4()).alias("_r")
    )
    return (
        agg.join(F.broadcast(sup), agg.l_suppkey == sup.s_suppkey)
        .groupBy("s_name")
        .agg(
            F.sum("_n").alias("num_facturas"),
            F.sum("_r").alias("_r4"),
        )
        .withColumn(
            "total_gastado", F.expr("CAST((2 * _r4 + 100) div 200 AS DOUBLE) / 100.0")
        )
        .select("s_name", "num_facturas", "total_gastado")
        .orderBy(F.col("total_gastado").desc(), "s_name")
        .limit(5)
    )


def _with_extraccion(o: DataFrame) -> DataFrame:
    """fecha_extraccion synthesized deterministically (the reference's is a
    system insert timestamp — non-deterministic per the north rule):
    extraction lags the invoice date by (o_orderkey %% 5) days."""
    return o.withColumn(
        "fecha_extraccion",
        F.date_add(F.to_date("o_orderdate"), (F.col("o_orderkey") % 5).cast("int")),
    )


def _tiempo_llegada(hoy):
    """CONSULTAS_BASICAS tiempo_llegada CASE: Hoy / Ayer / 'Hace N días'."""
    d = F.datediff(hoy, F.col("fecha_extraccion"))
    return (
        F.when(d == 0, F.lit("Hoy"))
        .when(d == 1, F.lit("Ayer"))
        .otherwise(F.concat(F.lit("Hace "), d.cast("string"), F.lit(" días")))
    )


def q14_ultima_factura_sistema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'ultima_factura_sistema' template (CONSULTAS_BASICAS,
    ask-my-invoices/index.ts:354-371): latest by EXTRACTION date (not
    invoice date), with dias_diferencia and the tiempo_llegada label."""
    o = _with_extraccion(_t(spark, sf_dir, "orders"))
    hoy = o.agg(F.max("fecha_extraccion").alias("_hoy"))
    return (
        o.crossJoin(F.broadcast(hoy))
        .select(
            "o_orderkey",
            F.to_date("o_orderdate").alias("fecha_factura"),
            "fecha_extraccion",
            F.round("o_totalprice", 2).alias("total_factura"),
            F.datediff("fecha_extraccion", F.to_date("o_orderdate")).alias(
                "dias_diferencia"
            ),
            _tiempo_llegada(F.col("_hoy")).alias("tiempo_llegada"),
        )
        .orderBy(F.col("fecha_extraccion").desc(), F.col("o_orderkey").desc())
        .limit(1)
    )


def q14_facturas_recientes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'facturas_recientemente_recibidas' (index.ts:334-352): invoices whose
    extraction date falls in the trailing 7 days, newest-extracted first,
    top 10, with arrival labels."""
    o = _with_extraccion(_t(spark, sf_dir, "orders"))
    hoy = o.agg(F.max("fecha_extraccion").alias("_hoy"))
    return (
        o.crossJoin(F.broadcast(hoy))
        .filter(F.col("fecha_extraccion") >= F.date_sub(F.col("_hoy"), 7))
        .select(
            "o_orderkey",
            F.to_date("o_orderdate").alias("fecha_factura"),
            "fecha_extraccion",
            F.round("o_totalprice", 2).alias("total_factura"),
            _tiempo_llegada(F.col("_hoy")).alias("tiempo_llegada"),
            F.datediff("fecha_extraccion", F.to_date("o_orderdate")).alias(
                "dias_diferencia"
            ),
        )
        .orderBy(F.col("fecha_extraccion").desc(), F.col("o_orderkey").desc())
        .limit(10)
    )


def q14_productos_mas_comprados(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'productos_mas_comprados' (index.ts:285-293): per product, total
    quantity + purchase count over the trailing 30 days, top 10 by
    quantity."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    anchor = li.agg(F.max(F.to_date("l_shipdate")).alias("_hoy"))
    return (
        li.crossJoin(F.broadcast(anchor))
        .filter(F.to_date("l_shipdate") >= F.date_sub(F.col("_hoy"), 30))
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_name")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("cantidad_total"),
            F.count("*").alias("veces_comprado"),
        )
        .orderBy(F.col("cantidad_total").desc(), "p_name")
        .limit(10)
    )


def q14_productos_categoria(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'productos_por_categoria': spend per category (p_type) in the
    trailing 90 days of the anchor."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    anchor = li.agg(F.max(F.to_date("l_shipdate")).alias("_hoy"))
    return (
        li.crossJoin(F.broadcast(anchor))
        .filter(F.to_date("l_shipdate") >= F.date_sub(F.col("_hoy"), 90))
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_type")
        .agg(
            F.count("*").alias("num_productos"),
            F.sum(_rev_e4()).alias("_r4"),
        )
        .withColumn(
            "total_gastado", F.expr("CAST((2 * _r4 + 100) div 200 AS DOUBLE) / 100.0")
        )
        .select("p_type", "num_productos", "total_gastado")
        .orderBy(F.col("total_gastado").desc(), "p_type")
    )


# --- the full hybrid cascade orchestrator (busquedaHibridaRobusta) -------

_TEMPLATE_QUERIES = {
    "última_factura": q14_ultima_factura,
    "ultima_factura_sistema": q14_ultima_factura_sistema,
    "facturas_recientemente_recibidas": q14_facturas_recientes,
    "productos_mas_comprados": q14_productos_mas_comprados,
    "facturas_esta_semana": q14_facturas_semana,
    "gasto_este_mes": q14_gasto_mes,
    "proveedores_activos": q14_proveedores_activos,
    "resumen_anual": q14_resumen_anual,
    "top_proveedores": q14_top_proveedores,
    "productos_por_categoria": q14_productos_categoria,
}


def busqueda_hibrida(
    spark: SparkSession, sf_dir: str, pregunta: str
) -> tuple[str, str, DataFrame]:
    """The Q15 cascade orchestrator (busquedaHibridaRobusta,
    ask-my-invoices/index.ts:687-846): returns ``(metodo, calidad, df)``
    from the FIRST stage with data —

    1. template SQL (detect_query_type -> canned query) -> ('sql_exitoso',
       'alta'); types with no deterministic template (LLM-generated SQL,
       F15 excised) fall through like the reference does on SQL errors.
    2. semantic search -> ('semantico', 'media'); faithfully SKIPPED here:
       without an embedding service the reference's generateEmbedding
       returns [] and buscarSemanticamente yields no rows (:513-516) —
       the deterministic build has no embedding for free-text preguntas.
    3. keyword-textual -> ('textual_simple', 'baja').
    4. datos básicos -> ('fallback_basico', 'minima') — never empty.

    Driver-side emptiness probes use LIMIT 1 (cheap — TakeOrdered /
    partial scans, not full materialization)."""
    tipo = detect_query_type(pregunta)
    if tipo is not None and tipo in _TEMPLATE_QUERIES:
        df = _TEMPLATE_QUERIES[tipo](spark, sf_dir)
        if df.limit(1).count() > 0:
            return ("sql_exitoso", "alta", df)
    df = busqueda_textual(spark, sf_dir, pregunta)
    if df.limit(1).count() > 0:
        return ("textual_simple", "baja", df)
    return ("fallback_basico", "minima", q15_datos_basicos(spark, sf_dir))
