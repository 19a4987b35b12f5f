"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship extraction pipeline on sf0.001.
``queries()``   — named DataFrame queries (SURVEY.md §2 operators).
``oracle_sql()``— DuckDB twins, column-aliased identically.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from facturas_spark.analytics import corpus_clean as CC
from facturas_spark.analytics import dedup as D
from facturas_spark.extraction.products import _CATEGORIES as _P15_CATEGORIES
from facturas_spark.extraction.products import _KB as _P11_KB
from facturas_spark.analytics import escandallos as E
from facturas_spark.analytics import master as M
from facturas_spark.analytics import nlsql as N
from facturas_spark.analytics import queries as Q


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: run the full extraction pipeline (boilerplate strip ->
    classify -> deterministic field extraction) over the sf0.001 documents
    table mapped to the pages shape, and aggregate extraction metrics per
    lang. Exercises every Arrow UDF plus a built-in aggregation."""
    from pyspark.sql import functions as F

    from facturas_spark.pipeline import extract_pages, extraction_metrics

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pages = docs.select(
        F.concat(F.lit("synthetic://"), F.col("doc_id").cast("string")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
    )
    return extraction_metrics(extract_pages(pages)).orderBy("lang")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    ORDER MATTERS: the driver's CORRECTNESS gate checks the FIRST 50
    entries each round. The window is therefore rotated so that every
    query with no driver row yet — and every query whose implementation
    changed this round — sits inside it; queries already driver-green in
    a previous round and untouched since are parked after position 50
    (their green rows are banked in CORRECTNESS_r01/r02.json)."""
    return {
        # ---- ROTATION RULE (standing, round 5+): the window holds, in
        # priority order, (1) queries whose code changed this round,
        # (2) queries never driver-checked, (3) unchanged queries with
        # the OLDEST banked green row, oldest first. After each round,
        # re-rank; with 83 queries and a 50-slot window every banked
        # row is refreshed at most ~1.6 rounds after it lands. The four
        # rows-only entries pinned by golden pytest (products/cotejo/
        # cotejo_inverso/ocr_layout_extraction) stay parked last: a
        # rows-only driver row adds no evidence over their fixtures, so
        # they never displace a hash-checkable refresh.
        "f2_invoice_number": Q.f2_invoice_number,
        "f1_cif_extraction": Q.f1_cif_extraction,
        "p14_multi_price": Q.p14_multi_price,
        "p4_p7_line_parsers": Q.p4_p7_line_parsers,
        "txt_content_lines": Q.txt_content_lines,
        "c1_classify_documents": Q.c1_classify_documents,
        "f4_f6_amount_banks": Q.f4_f6_amount_banks,
        "txt_field_extraction": Q.txt_field_extraction,
        "dedup_embedding_lsh": D.dedup_embedding_lsh,
        "dedup_embedding_cosine": D.dedup_embedding_cosine,
        "numier_upsert_ventas": E.numier_upsert_ventas,
        "m14_duplicate_orders": D.m14_duplicate_orders,
        "q08_price_history_log": Q.q08_price_history_log,
        "txt_token_stats": Q.txt_token_stats,
        "txt_quality_score": Q.txt_quality_score,
        "txt_amount_shapes": Q.txt_amount_shapes,
        "dedup_exact": Q.dedup_exact,
        "ocr_layout_facets": Q.ocr_layout_facets,
        "corpus_clean_stats": CC.corpus_clean_stats,
        "f11_fiscal_reconciliation": Q.f11_fiscal_reconciliation,
        "supplier_dim": M.supplier_dim,
        "v_productos_top": E.v_productos_top,
        "q14_top_proveedores": N.q14_top_proveedores,
        "esc_food_cost_platos": E.esc_food_cost_platos,
        "esc_resumen_global": E.esc_resumen_global,
        "events_json_props": Q.events_json_props,
        "url_quality_filter": D.url_quality_filter,
        "dedup_url_normalize": D.dedup_url_normalize,
        "numier_dashboard_resumen": E.numier_dashboard_resumen,
        "numier_upsert_catalogo": E.numier_upsert_catalogo,
        "cotejo_patron_efectividad": E.cotejo_patron_efectividad,
        "cotejo_scores": E.cotejo_scores,
        "cotejo_consolidation": E.cotejo_consolidation,
        "cola_procesamiento": E.cola_procesamiento,
        "cotejo_decisiones": E.cotejo_decisiones,
        "v_ventas_diarias": E.v_ventas_diarias,
        "price_history_append": M.price_history_append,
        "q14_ultima_factura": N.q14_ultima_factura,
        "q14_facturas_semana": N.q14_facturas_semana,
        "q14_gasto_mes": N.q14_gasto_mes,
        "q14_proveedores_activos": N.q14_proveedores_activos,
        "q14_resumen_anual": N.q14_resumen_anual,
        "q14_productos_categoria": N.q14_productos_categoria,
        "q14_ultima_factura_sistema": N.q14_ultima_factura_sistema,
        "q14_facturas_recientes": N.q14_facturas_recientes,
        "q14_productos_mas_comprados": N.q14_productos_mas_comprados,
        "q15_hybrid_textual": N.q15_hybrid_textual,
        "q15_semantic_ranked": N.q15_semantic_ranked,
        "q15_datos_basicos": N.q15_datos_basicos,
        "stream_window_equivalence": Q.stream_window_equivalence,
        # ---------------- driver window boundary (50) ----------------
        # parked: banked-green and untouched this round (the five newest
        # banked rows the regex-bank fold displaced, then the r08 rows),
        # then the pinned rows-only pipelines
        "events_sessionization": Q.events_sessionization,
        "host_reputation_filter": D.host_reputation_filter,
        "iva_tipos_breakdown": E.iva_tipos_breakdown,
        "esc_ingredientes_stats": E.esc_ingredientes_stats,
        "m5_product_match_pairs": D.m5_product_match_pairs,
        "f12_confidence": Q.f12_confidence,
        "f8_date_variants": Q.f8_date_variants,
        "f7_amount_variants": Q.f7_amount_variants,
        "p9_price_closure": Q.p9_price_closure,
        "p8_p15_products_normalized": Q.p8_p15_products_normalized,
        "p13_price_per_unit": Q.p13_price_per_unit,
        "s2_mime_sniffing": Q.s2_mime_sniffing,
        "q02_top_products": Q.q02_top_products,
        "q12_multi_price_products": Q.q12_multi_price_products,
        "corpus_quota_two_phase": CC.corpus_quota_two_phase,
        "q01_daily_sales": Q.q01_daily_sales,
        "q03_dashboard_resumen": Q.q03_dashboard_resumen,
        "q04_payment_pivot": Q.q04_payment_pivot,
        "q07_category_share": Q.q07_category_share,
        "q09_purchase_frequency": Q.q09_purchase_frequency,
        "q10_purchase_gaps": Q.q10_purchase_gaps,
        "q13_rolling_price_stats": Q.q13_rolling_price_stats,
        "q11_spend_per_product": Q.q11_spend_per_product,
        "m3_levenshtein_pairs": D.m3_levenshtein_pairs,
        "m4_similarity_pairs": D.m4_similarity_pairs,
        "master_products": M.master_products,
        "ann_cosine_topk": Q.ann_cosine_topk,
        "whatsapp_routing": E.whatsapp_routing,
        "mailgun_routing": E.mailgun_routing,
        # -- rows-only, golden-fixture-pinned (no SQL oracle by design)
        "ocr_layout_extraction": Q.ocr_layout_extraction,
        "products_extraction": Q.products_extraction,
        "cotejo_pipeline": Q.cotejo_pipeline,
        "cotejo_inverso_pipeline": Q.cotejo_inverso_pipeline,
    }


from facturas_spark.extraction.textparse import (  # noqa: E402
    _PAT_BASE,
    _PAT_CUOTA,
    _PAT_TIPO,
    _PAT_TOTAL,
)


def _bank_extracts_sql(patterns: list[re.Pattern[str]]) -> str:
    return " || ".join(
        f"regexp_extract_all(texto, '(?i){p.pattern}', 1)" for p in patterns
    )


def _bank_max_sql(patterns: list[re.Pattern[str]], gate: str) -> str:
    ex = _bank_extracts_sql(patterns)
    parsed = (
        f"list_filter(list_transform(list_filter(list_transform({ex}, x -> trim(x)),"
        " x -> x <> ''),"
        " x -> FLOOR(TRY_CAST(replace(x, ',', '.') AS DOUBLE) * 100 + 0.5) / 100),"
        " v -> v > 0)"
    )
    return (
        f"CASE WHEN ({gate}) AND regexp_matches(texto, '\\d')"
        f" THEN COALESCE(list_max({parsed}), CAST(0.0 AS DOUBLE))"
        " ELSE CAST(0.0 AS DOUBLE) END"
    )


_F1_SQL_PATTERNS = [
    r"\b([A-Z]\-\d{8}\d{1,2})\b",
    r"\b([A-Z]\d{8}[A-Z0-9]?)\b",
    r"(?:CIF|C\.I\.F\.)\s*[:\s]*([A-Z][\-\d]{8,10})",
    r"\b([A-Z]\d{8}[A-Z0-9]?)\b"
    r"|\b(?:[A-Z][\s\-]?\d{2}[\.\s]?\d{3}[\.\s]?\d{3}[\s\-]?[A-Z0-9])\b"
    r"|\b(?:\d{8}[A-Z])\b",
]
_F1_SQL_EXTRACTS = " || ".join(
    f"regexp_extract_all(texto, '(?i){p}', 1)" for p in _F1_SQL_PATTERNS
)

_F2_SQL_PATTERNS = [
    r"(?:Nº?\s*FACTURA|N[ÚU]MERO?\s*FACTURA)\s*\n?(\d+)",
    r"(?:FACTURA|factura|Factura)\s*\n?(\d+)",
    r"(?:Nº|NUMERO?|num|NUM)\s*\n?(\d+)",
    r"(?:f\.?n\.?|F\.?N\.?)\s*[:\s]*(\d+)",
    r"(?:FACTURA|factura|Factura)\s*[:\s#\-]*([A-Z0-9\-\/\.\s]{1,20})",
    r"(?:invoice|Invoice|INVOICE)\s*[:\s#\-]*([A-Z0-9\-\/\.\s]{1,20})",
]
_F2_SQL_EXTRACTS = " || ".join(
    f"regexp_extract_all(texto, '(?i){p}', 1)" for p in _F2_SQL_PATTERNS
)

_P14_H = r"(\d+)\s*(ud|u|huevos?|unidades?|docena|docenas)"
_P14_PACK = r"(\d+)x(\d+(?:[.,]\d+)?)\s*(cl|ml|l|litro|litros)"
_P14_PESO = r"(\d+(?:[.,]\d+)?)\s*(kg|g|gramos|kilos)"
_P14_UNI = r"(\d+)\s*(ud|unidades|pcs|piezas|unidad)"
_P14_LIQ = r"(\d+(?:[.,]\d+)?)\s*(l|ml|cl|litro|litros)"
_P14_VINO = (
    r"(vino|amontillado|fino|oloroso|pedro ximenez|manzanilla|palo cortado"
    r"|verdejo|albariño|godello|mencía|garnacha|tempranillo|rioja|ribera"
    r"|chardonnay|sauvignon blanc|pinot noir|merlot|cabernet|syrah|shiraz|malbec)"
)


# corpus-clean twin pieces: interpolated from the SAME module constants
# the Spark chain uses, so the banks cannot drift
from facturas_spark.analytics.corpus_clean import (  # noqa: E402
    MARKERS_EN as _CC_EN,
    MARKERS_ES as _CC_ES,
    PACK_BUDGET as _CC_BUDGET,
    PII_EMAIL as _CC_EMAIL,
    PII_IPV4 as _CC_IPV4,
    PII_PHONE as _CC_PHONE,
    QUOTA_K as _CC_K,
    STOPWORDS_BI as _CC_STOP,
)


def _sql_list(items: list[str]) -> str:
    return "[" + ", ".join(f"'{x}'" for x in items) + "]"


def _sql_rx(p: str) -> str:
    # DuckDB standard string literals do not process backslash escapes,
    # so the raw regex interpolates verbatim (no doubling!)
    return p


_CC_WORDS = (
    "list_filter(string_split_regex(lower(trim({c})), '\\s+'), x -> x <> '')"
)
_CC_NRED = " + ".join(
    f"len(regexp_extract_all(text, '{_sql_rx(p)}'))"
    for p in (_CC_EMAIL, _CC_PHONE, _CC_IPV4)
)
_CC_SIG = ", ".join(
    f"list_min(list_transform(s, t -> md5(t || ':{i}'))) AS h{i}" for i in range(8)
)
_CC_BANDS = " UNION ALL ".join(
    f"SELECT doc_id, {j} AS band, md5(h{2 * j} || h{2 * j + 1}) AS key FROM sig"
    for j in range(4)
)

_CORPUS_CLEAN_SQL = f"""
    WITH RECURSIVE inj AS (
      SELECT doc_id, source,
             COALESCE(text, '')
             || CASE WHEN doc_id % 7 = 0
                     THEN ' contact: user' || CAST(doc_id AS VARCHAR) || '@example.com'
                     ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                     THEN ' tel: 612 345 ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                     ELSE '' END
             || CASE WHEN doc_id % 13 = 0
                     THEN ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
                     ELSE '' END AS text
      FROM documents
    ), f0 AS MATERIALIZED (
      SELECT doc_id, source,
             {_CC_WORDS.format(c="text")} AS w,
             trim(text) <> '' AS s0,
             regexp_replace(regexp_replace(regexp_replace(text,
                 '{_sql_rx(_CC_EMAIL)}', '<EMAIL>', 'g'),
                 '{_sql_rx(_CC_PHONE)}', '<PHONE>', 'g'),
                 '{_sql_rx(_CC_IPV4)}', '<IP>', 'g') AS scrubbed,
             {_CC_NRED} AS n_red
      FROM inj
    ), f1 AS (
      SELECT *,
             s0 AND (len(list_filter(w, x -> list_contains({_sql_list(_CC_EN)}, x))) > 0
                     OR len(list_filter(w, x -> list_contains({_sql_list(_CC_ES)}, x))) > 0) AS s1,
             len(w) AS n_words,
             CAST(COALESCE(list_sum(list_transform(w, x -> length(x))), 0) AS DOUBLE)
               / greatest(len(w), 1) AS mean_len,
             CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
               / greatest(len(w), 1) AS alpha_frac,
             len(list_intersect(list_distinct(w), {_sql_list(_CC_STOP)})) AS n_stop
      FROM f0
    ), f2 AS (
      SELECT *,
             (s1 AND n_words >= 10 AND n_words <= 100000
                 AND mean_len >= 2 AND mean_len <= 10
                 AND alpha_frac >= 0.8 AND n_stop >= 2) AS s2
      FROM f1
    ), rb AS (
      SELECT doc_id, w FROM f2 WHERE s2 AND len(w) >= 3
    ), rg2 AS (
      SELECT doc_id, unnest(list_transform(range(0, len(w) - 1),
               i -> w[i + 1] || ' ' || w[i + 2])) AS g
      FROM rb
    ), rc2 AS (
      SELECT doc_id, g, COUNT(*) AS c FROM rg2 GROUP BY 1, 2
    ), rr2 AS (
      SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS top2 FROM rc2 GROUP BY 1
    ), rg3 AS (
      SELECT doc_id, unnest(list_transform(range(0, len(w) - 2),
               i -> w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3])) AS g
      FROM rb
    ), rc3 AS (
      SELECT doc_id, g, COUNT(*) AS c FROM rg3 GROUP BY 1, 2
    ), rr3 AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / SUM(c) AS dup3
      FROM rc3 GROUP BY 1
    ), f3 AS MATERIALIZED (
      SELECT f2.*, COALESCE(s2 AND top2 <= 0.20 AND dup3 <= 0.30, FALSE) AS s3
      FROM f2 LEFT JOIN rr2 USING (doc_id) LEFT JOIN rr3 USING (doc_id)
    ), ex AS (
      SELECT doc_id,
             doc_id = MIN(doc_id) OVER (PARTITION BY md5(scrubbed)) AS exact_keep
      FROM f3 WHERE s3
    ), f5 AS MATERIALIZED (
      SELECT f3.*, COALESCE(s3 AND exact_keep, FALSE) AS s5
      FROM f3 LEFT JOIN ex USING (doc_id)
    ), sw AS (
      SELECT doc_id, {_CC_WORDS.format(c="scrubbed")} AS words
      FROM f5 WHERE s5
    ), sh AS MATERIALIZED (
      SELECT doc_id,
             list_distinct(list_transform(range(0, len(words) - 2),
               i -> words[i + 1] || ' ' || words[i + 2] || ' ' || words[i + 3])) AS s
      FROM sw WHERE len(words) >= 3
    ), sig AS (
      SELECT doc_id, {_CC_SIG} FROM sh
    ), bands AS (
      {_CC_BANDS}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ), pairs AS (
      SELECT id1, id2
      FROM cand JOIN sh a ON id1 = a.doc_id JOIN sh b ON id2 = b.doc_id
      WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / len(list_distinct(list_concat(a.s, b.s))) >= 0.5
    ), und AS MATERIALIZED (
      SELECT id1 AS a, id2 AS b FROM pairs
      UNION ALL SELECT id2, id1 FROM pairs
    ), reach(a, b) AS (
      SELECT a, b FROM und
      UNION
      SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
    ), labels AS (
      SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
      FROM reach GROUP BY a
    ), f6 AS MATERIALIZED (
      SELECT f5.*,
             (s5 AND (cluster_id IS NULL OR cluster_id = doc_id)) AS s6
      FROM f5 LEFT JOIN labels USING (doc_id)
    ), q AS (
      SELECT doc_id, row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM f6 WHERE s6
    ), f7 AS MATERIALIZED (
      SELECT f6.*, COALESCE(s6 AND rn <= {_CC_K}, FALSE) AS s7
      FROM f6 LEFT JOIN q USING (doc_id)
    ), pk AS (
      SELECT doc_id,
             CAST(floor((SUM(toks) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                         - toks) / {float(_CC_BUDGET)}) AS BIGINT) AS pack_id
      FROM (
        SELECT doc_id, len({_CC_WORDS.format(c="scrubbed")}) AS toks
        FROM f7 WHERE s7
      )
    ), flags AS MATERIALIZED (
      SELECT f7.*, pk.pack_id FROM f7 LEFT JOIN pk USING (doc_id)
    ), agg AS MATERIALIZED (
      SELECT CAST(COUNT(*) AS BIGINT) AS total,
             CAST(SUM(CASE WHEN s0 THEN 1 ELSE 0 END) AS BIGINT) AS k0,
             CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS k1,
             CAST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS k2,
             CAST(SUM(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS k3,
             CAST(COALESCE(SUM(CASE WHEN s3 THEN n_red ELSE 0 END), 0) AS BIGINT) AS red,
             CAST(SUM(CASE WHEN s5 THEN 1 ELSE 0 END) AS BIGINT) AS k5,
             CAST(SUM(CASE WHEN s6 THEN 1 ELSE 0 END) AS BIGINT) AS k6,
             CAST(SUM(CASE WHEN s7 THEN 1 ELSE 0 END) AS BIGINT) AS k7,
             CAST(COUNT(DISTINCT CASE WHEN s7 THEN pack_id END) AS BIGINT) AS packs
      FROM flags
    )
    SELECT * FROM (
      SELECT '0_nonempty' AS stage, total AS docs_in, k0 AS docs_out,
             total - k0 AS dropped, CAST(0 AS BIGINT) AS metric FROM agg
      UNION ALL SELECT '1_langid', k0, k1, k0 - k1, 0 FROM agg
      UNION ALL SELECT '2_gopher', k1, k2, k1 - k2, 0 FROM agg
      UNION ALL SELECT '3_repetition', k2, k3, k2 - k3, 0 FROM agg
      UNION ALL SELECT '4_pii_scrub', k3, k3, 0, red FROM agg
      UNION ALL SELECT '5_dedup_exact', k3, k5, k3 - k5, 0 FROM agg
      UNION ALL SELECT '6_dedup_near', k5, k6, k5 - k6, 0 FROM agg
      UNION ALL SELECT '7_source_quota', k6, k7, k6 - k7, 0 FROM agg
      UNION ALL SELECT '8_packing', k7, k7, 0, packs FROM agg
    ) ORDER BY stage
"""


_OCR_FACETS_SQL: str | None = None


def _ocr_layout_facets_sql() -> str:
    """Twin for ``ocr_layout_facets``: flatten the SAME deterministic
    ``synth.ocr_rows(60, seed=42)`` docs into raw VALUES — flat texts +
    (doc_id, kind, start, end) spans — and let DuckDB REDO the T1/T3
    arithmetic (1-based substr, bounds gates, whitespace strip,
    empty-drop) with pure SQL. Nothing pre-computed leaks in: the Python
    side here only serializes the synthesizer's raw inputs, so a wrong
    gate or off-by-one in the Spark kernel hash-mismatches.

    Module-memoized: every other twin is a static string, and consumers
    call ``oracle_sql()`` repeatedly — the 60-doc synthesis + ~80 KB
    VALUES build should run once per process (round-6 review)."""
    global _OCR_FACETS_SQL
    if _OCR_FACETS_SQL is not None:
        return _OCR_FACETS_SQL
    from facturas_spark.extraction.ocr import _CONTAINERS
    from facturas_spark.synth import ocr_rows

    # pages tuple layout (synth.ocr_rows): (page_no, w, h, tokens,
    # lines, blocks, paragraphs, tables); span tuples (start, end, ...)
    field_slot = {"tokens": 3, "lines": 4, "blocks": 5, "paragraphs": 6}
    texts, els = [], []
    for doc_id, (_url, text, pages) in enumerate(ocr_rows(60, seed=42)):
        texts.append((doc_id, text))
        for page in pages:
            for field, key, _conf in _CONTAINERS:
                for span in page[field_slot[field]]:
                    els.append((doc_id, key, span[0], span[1]))

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    texts_sql = ", ".join(f"({i}, {q(t)})" for i, t in texts)
    els_sql = ", ".join(f"({d}, '{k}', {s}, {e})" for d, k, s, e in els)
    prior_sql = " ".join(
        f"WHEN '{key}' THEN {conf}" for _f, key, conf in _CONTAINERS
    )
    ws = "' ' || chr(10) || chr(9) || chr(13)"
    _OCR_FACETS_SQL = f"""
        WITH texts(doc_id, text) AS (VALUES {texts_sql}),
        els(doc_id, kind, s, e) AS (VALUES {els_sql}),
        recon AS (
          SELECT e.doc_id, e.kind,
                 trim(substr(t.text, e.s + 1, e.e - e.s), {ws}) AS texto
          FROM els e JOIN texts t ON e.doc_id = t.doc_id
          WHERE e.s >= 0 AND e.e > e.s AND e.e <= length(t.text)
        )
        SELECT kind,
               CAST(COUNT(*) AS BIGINT) AS elements,
               CAST(SUM(length(texto)) AS BIGINT) AS total_chars,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS docs_with_kind,
               CAST(CASE kind {prior_sql} END AS DOUBLE) AS conf_prior
        FROM recon WHERE texto <> ''
        GROUP BY kind ORDER BY kind
    """
    return _OCR_FACETS_SQL


def oracle_sql() -> dict[str, str]:
    """DuckDB twins of every query above (ANSI SQL, same column aliases)."""
    return {
        "ocr_layout_facets": _ocr_layout_facets_sql(),
        "dedup_url_normalize": """
            -- canonical form + keep-set derived from the CONSTRUCTION
            -- arithmetic (independent ground truth; the Spark side runs
            -- the real normalize_url expression over the messy variants)
            SELECT doc_id,
                   'https://site' || CAST(doc_id % 100 AS VARCHAR)
                     || '.example.com/page' || CAST(doc_id % 100 AS VARCHAR)
                     AS url_norm,
                   (doc_id = doc_id % 100) AS keep
            FROM documents ORDER BY doc_id
        """,
        "host_reputation_filter": """
            WITH base AS (
              SELECT doc_id,
                     'h' || CAST(doc_id % 20 AS VARCHAR) AS host,
                     CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS doc_ok
              FROM documents
            ), rates AS (
              SELECT host, ROUND(AVG(doc_ok), 4) AS host_rate
              FROM base GROUP BY host
            )
            SELECT b.doc_id, b.host, r.host_rate,
                   (r.host_rate >= 0.5) AS host_keep
            FROM base b JOIN rates r USING (host)
            ORDER BY b.doc_id
        """,
        "url_quality_filter": """
            WITH synth AS (
              SELECT doc_id,
                     CASE doc_id % 10
                       WHEN 0 THEN 'ads.tracker.net'
                       WHEN 1 THEN 'casino-spins.com'
                       ELSE 'site' || CAST(doc_id % 50 AS VARCHAR) || '.example.com'
                     END AS host,
                     CASE WHEN doc_id % 7 = 0 THEN '/signup/item'
                          ELSE '/articles/item' || CAST(doc_id AS VARCHAR) END AS path,
                     CASE doc_id % 5 WHEN 0 THEN '.jpg' WHEN 1 THEN '.html'
                          ELSE '' END AS ext,
                     CASE WHEN doc_id % 11 = 0
                          THEN '?utm=1&ref=2&sid=3&track=4&a=5'
                          ELSE '' END AS qs
              FROM documents
            )
            -- flags derived from the CONSTRUCTION arithmetic (independent
            -- ground truth; the Spark side parses the assembled string)
            SELECT doc_id,
                   'https://' || host || path || ext || qs AS url,
                   host IN ('ads.tracker.net', 'casino-spins.com',
                            'malware.example.org') AS blocked_host,
                   (doc_id % 7 = 0) AS blocked_path,
                   (doc_id % 11 = 0) AS too_many_params,
                   (doc_id % 5 = 0) AS bad_ext,
                   FALSE AS too_long,
                   NOT (host IN ('ads.tracker.net', 'casino-spins.com',
                                 'malware.example.org')
                        OR doc_id % 7 = 0 OR doc_id % 11 = 0
                        OR doc_id % 5 = 0) AS url_keep
            FROM synth ORDER BY doc_id
        """,
        "iva_tipos_breakdown": """
            WITH t AS (
              SELECT l_orderkey AS factura_id,
                     [4, 10, 21][(l_partkey % 3) + 1] AS tipo_iva,
                     CAST(l_extendedprice * 100 AS BIGINT)
                       * (100 - CAST(l_discount * 100 AS BIGINT)) AS _r4
              FROM lineitem WHERE l_orderkey <= 2000
            ), a AS (
              SELECT factura_id, tipo_iva, SUM(_r4) AS _net4
              FROM t GROUP BY 1, 2
            ), c AS (
              SELECT factura_id, tipo_iva, (2 * _net4 + 100) // 200 AS _base_c
              FROM a
            )
            SELECT factura_id, tipo_iva,
                   CAST(_base_c AS DOUBLE) / 100.0 AS base_imponible,
                   CAST((2 * _base_c * tipo_iva + 100) // 200 AS DOUBLE) / 100.0
                     AS cuota_iva
            FROM c ORDER BY factura_id, tipo_iva
        """,
        "corpus_clean_stats": _CORPUS_CLEAN_SQL,
        "events_json_props": """
            SELECT event_type,
                   COUNT(*) AS eventos,
                   CAST(SUM(CASE WHEN json_extract_string(props, '$.k') IS NOT NULL
                            THEN 1 ELSE 0 END) AS BIGINT) AS con_k,
                   CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                        AS BIGINT) AS suma_k,
                   MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
                   MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        # DELIBERATELY the single global window: the Spark side runs the
        # two-phase salted top-k (quota_keep_ids salts=4) — a hash match
        # IS the proof that the two-phase decomposition picks the
        # identical keep set.
        "corpus_quota_two_phase": """
            WITH r AS (
              SELECT source, doc_id,
                     row_number() OVER (PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
              FROM documents
            )
            SELECT source, COUNT(*) AS total,
                   CAST(SUM(CASE WHEN rn <= 8 THEN 1 ELSE 0 END) AS BIGINT) AS kept,
                   MIN(CASE WHEN rn <= 8 THEN doc_id END) AS min_kept_doc
            FROM r GROUP BY 1 ORDER BY source
        """,
        "stream_window_equivalence": """
            SELECT strftime(time_bucket(INTERVAL '1 hour', ts),
                            '%Y-%m-%d %H:%M:%S') AS inicio,
                   event_type,
                   COUNT(*) AS eventos,
                   CAST(SUM(CAST(value * 100 AS BIGINT)) AS DOUBLE) / 100.0
                       AS total_valor
            FROM events GROUP BY 1, 2 ORDER BY inicio, event_type
        """,
        "events_sessionization": """
            WITH flagged AS (
                SELECT user_id, event_id, ts, epoch_us(ts) AS us,
                       CASE WHEN epoch_us(ts)
                                 - lag(epoch_us(ts)) OVER w > 1800000000
                            THEN 1 ELSE 0 END AS new_sess
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sess AS (
                SELECT user_id, us,
                       SUM(new_sess) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id
                                           ROWS UNBOUNDED PRECEDING)
                           AS session_id
                FROM flagged
            ), per_sess AS (
                SELECT user_id, session_id,
                       COUNT(*) AS eventos, MAX(us) - MIN(us) AS dur_us
                FROM sess GROUP BY 1, 2
            )
            SELECT user_id, COUNT(*) AS sesiones,
                   CAST(SUM(eventos) AS BIGINT) AS eventos,
                   MAX(dur_us) AS max_dur_us
            FROM per_sess GROUP BY 1 ORDER BY user_id
        """,
        "q01_daily_sales": """
            SELECT CAST(ts AS DATE) AS fecha,
                   COUNT(*) AS num_eventos,
                   CAST(SUM(CAST(value * 100 AS BIGINT)) AS BIGINT) / 100.0 AS total_valor,
                   ((2 * SUM(CAST(value * 100 AS BIGINT)) + COUNT(*))
                    // (2 * COUNT(*))) / 100.0 AS valor_medio
            FROM events GROUP BY 1 ORDER BY fecha DESC
        """,
        "q02_top_products": """
            SELECT p_name,
                   ROUND(SUM(l_quantity), 2) AS total_cantidad,
                   ((2 * SUM(CAST(l_extendedprice * 100 AS BIGINT) * (100 - CAST(l_discount * 100 AS BIGINT))) + 100)
                    // 200) / 100.0 AS total_importe,
                   COUNT(DISTINCT l_orderkey) AS num_pedidos
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_name
            ORDER BY total_importe DESC, p_name
            LIMIT 10
        """,
        "q03_dashboard_resumen": """
            WITH s AS (
              SELECT
                SUM(CASE WHEN o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-07-01'
                         THEN CAST(o_totalprice * 100 AS BIGINT) END) AS s1,
                COUNT(CASE WHEN o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-07-01' THEN 1 END) AS n1,
                SUM(CASE WHEN o_orderdate >= TIMESTAMP '1994-07-01' AND o_orderdate < TIMESTAMP '1995-01-01'
                         THEN CAST(o_totalprice * 100 AS BIGINT) END) AS s2
              FROM orders
            )
            SELECT CAST(s1 AS BIGINT) / 100.0 AS ventas_periodo,
                   n1 AS pedidos_periodo,
                   ((2 * s1 + n1) // (2 * n1)) / 100.0 AS ticket_medio,
                   CAST(s2 AS BIGINT) / 100.0 AS ventas_anterior,
                   FLOOR(CAST(s1 - s2 AS DOUBLE) / CAST(s2 AS DOUBLE) * 100 * 100 + 0.5) / 100 AS crecimiento_pct
            FROM s
        """,
        "q04_payment_pivot": """
            SELECT CASE WHEN event_type IN ('purchase','refund') THEN 'monetario'
                        WHEN event_type IN ('signup','login') THEN 'cuenta'
                        ELSE 'otro' END AS categoria,
                   COUNT(*) AS eventos,
                   CAST(SUM(CAST(value * 100 AS BIGINT)) AS BIGINT) / 100.0 AS total_valor
            FROM events GROUP BY 1 ORDER BY categoria
        """,
        "q07_category_share": """
            WITH agg AS (
              SELECT p_type,
                     SUM(CAST(l_extendedprice * 100 AS BIGINT) * (100 - CAST(l_discount * 100 AS BIGINT))) AS _imp
              FROM lineitem JOIN part ON l_partkey = p_partkey
              GROUP BY p_type
            )
            SELECT p_type,
                   ((2 * _imp + 100) // 200) / 100.0 AS importe,
                   FLOOR(CAST(_imp AS DOUBLE) / CAST(SUM(_imp) OVER () AS DOUBLE) * 100 * 100 + 0.5) / 100 AS pct_total
            FROM agg ORDER BY importe DESC, p_type
        """,
        "q09_purchase_frequency": """
            SELECT l_partkey,
                   COUNT(*) AS num_compras,
                   CAST(MIN(l_shipdate) AS DATE) AS primera_compra,
                   CAST(MAX(l_shipdate) AS DATE) AS ultima_compra,
                   date_diff('day', CAST(MIN(l_shipdate) AS DATE), CAST(MAX(l_shipdate) AS DATE)) AS dias_periodo,
                   ROUND(SUM(l_quantity), 2) AS cantidad_total
            FROM lineitem GROUP BY l_partkey
            ORDER BY num_compras DESC, l_partkey
            LIMIT 100
        """,
        "q10_purchase_gaps": """
            WITH gaps AS (
              SELECT l_partkey,
                     date_diff('day',
                       CAST(LAG(l_shipdate) OVER (PARTITION BY l_partkey ORDER BY l_shipdate, l_orderkey, l_linenumber) AS DATE),
                       CAST(l_shipdate AS DATE)) AS gap
              FROM lineitem
            )
            SELECT l_partkey,
                   ((200 * SUM(gap) + COUNT(*)) // (2 * COUNT(*))) / 100.0 AS gap_medio_dias,
                   MAX(gap) AS gap_max_dias,
                   COUNT(*) AS num_gaps
            FROM gaps WHERE gap IS NOT NULL
            GROUP BY l_partkey ORDER BY l_partkey
            LIMIT 100
        """,
        "q12_multi_price_products": """
            SELECT l_partkey,
                   COUNT(DISTINCT l_extendedprice) AS num_precios,
                   ROUND(MIN(l_extendedprice), 2) AS precio_min,
                   ROUND(MAX(l_extendedprice), 2) AS precio_max,
                   ((2 * SUM(CAST(l_extendedprice * 100 AS BIGINT)) + COUNT(*))
                    // (2 * COUNT(*))) / 100.0 AS precio_medio
            FROM lineitem GROUP BY l_partkey
            HAVING COUNT(DISTINCT l_extendedprice) > 1
            ORDER BY num_precios DESC, l_partkey
            LIMIT 100
        """,
        "q13_rolling_price_stats": """
            SELECT l_partkey, l_orderkey, l_linenumber,
                   CAST(l_shipdate AS DATE) AS fecha_compra,
                   ((2 * SUM(CAST(l_extendedprice * 100 AS BIGINT)) OVER w30 + COUNT(*) OVER w30)
                    // (2 * COUNT(*) OVER w30)) / 100.0 AS precio_promedio_30d,
                   ROUND(MIN(l_extendedprice) OVER w30, 2) AS precio_min_30d,
                   ROUND(MAX(l_extendedprice) OVER w30, 2) AS precio_max_30d,
                   ROUND((l_extendedprice - LAG(l_extendedprice) OVER wl)
                         / LAG(l_extendedprice) OVER wl * 100, 2) AS variacion_pct
            FROM lineitem
            WHERE l_partkey <= 200
            WINDOW
              w30 AS (PARTITION BY l_partkey
                      ORDER BY date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))
                      RANGE BETWEEN 30 PRECEDING AND CURRENT ROW),
              wl AS (PARTITION BY l_partkey ORDER BY l_shipdate, l_orderkey, l_linenumber)
            ORDER BY l_partkey, fecha_compra, l_orderkey, l_linenumber
        """,
        "txt_token_stats": """
            WITH t AS (
              SELECT lang,
                     len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS n_tokens,
                     length(text) AS n_len
              FROM documents
            )
            SELECT lang, COUNT(*) AS docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                   ((200 * SUM(n_tokens) + COUNT(*)) // (2 * COUNT(*))) / 100.0 AS avg_tokens,
                   MAX(n_len) AS max_len
            FROM t GROUP BY lang ORDER BY lang
        """,
        "txt_quality_score": """
            WITH t AS (
              SELECT length(text) AS n,
                     length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS letters,
                     length(regexp_replace(text, '[^ ]', '', 'g')) AS spaces
              FROM documents
            ), s AS (
              SELECT CAST(CASE
                WHEN n < 10 THEN 0.1
                WHEN (CASE WHEN n > 0 THEN CAST(letters AS DOUBLE)/n ELSE 0.0 END) < 0.5 THEN 0.3
                WHEN (CASE WHEN spaces > 0 THEN CAST(n - spaces AS DOUBLE)/(spaces + 1) ELSE n END) > 12 THEN 0.4
                ELSE 1.0 END AS DOUBLE) AS quality
              FROM t
            )
            SELECT quality, COUNT(*) AS docs FROM s GROUP BY quality ORDER BY quality
        """,
        "txt_amount_shapes": """
            SELECT lang,
                   CAST(SUM(len(regexp_extract_all(text, '(\\d+[,\\.]\\d{2})', 1))) AS BIGINT) AS amount_tokens,
                   CAST(SUM(len(regexp_extract_all(text, '(\\d{1,2}/\\d{1,2}/\\d{2,4})', 1))) AS BIGINT) AS date_tokens,
                   COUNT(*) AS docs
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "f4_f6_amount_banks": f"""
            WITH d AS (
              SELECT o_orderkey, o_orderkey % 6 AS escenario,
                     CASE o_orderkey % 6
                          WHEN 0 THEN 'TOTAL: ' || CAST((o_orderkey * 7) % 9000 + 1000 AS VARCHAR) || ',' || lpad(CAST(o_orderkey % 100 AS VARCHAR), 2, '0')
                                      || ' € BASE IMPONIBLE ' || CAST((o_orderkey * 3) % 9000 + 1000 AS VARCHAR) || ',' || lpad(CAST(o_orderkey % 100 AS VARCHAR), 2, '0')
                                      || ' IVA 21% ' || CAST((o_orderkey * 2) % 9000 + 1000 AS VARCHAR) || ',' || lpad(CAST(o_orderkey % 100 AS VARCHAR), 2, '0')
                                      || ' IMPORTE TOTAL ' || CAST((o_orderkey * 9) % 9000 + 1000 AS VARCHAR) || ',' || lpad(CAST(o_orderkey % 100 AS VARCHAR), 2, '0') || ' €'
                          WHEN 1 THEN 'SUMA TOTAL ' || CAST((o_orderkey * 7) % 9000 + 1000 AS VARCHAR) || ',' || lpad(CAST(o_orderkey % 100 AS VARCHAR), 2, '0')
                                      || ' subtotal: ' || CAST((o_orderkey * 3) % 9000 + 1000 AS VARCHAR) || ',' || lpad(CAST(o_orderkey % 100 AS VARCHAR), 2, '0')
                                      || ' € cuota iva: ' || CAST((o_orderkey * 2) % 9000 + 1000 AS VARCHAR) || ',' || lpad(CAST(o_orderkey % 100 AS VARCHAR), 2, '0')
                                      || ' al 10 %'
                          WHEN 2 THEN CAST((o_orderkey * 3) % 9000 + 1000 AS VARCHAR) || ',' || lpad(CAST(o_orderkey % 100 AS VARCHAR), 2, '0')
                                      || ' € BASE y ' || CAST((o_orderkey * 2) % 9000 + 1000 AS VARCHAR) || ',' || lpad(CAST(o_orderkey % 100 AS VARCHAR), 2, '0') || ' IVA'
                          WHEN 3 THEN 'LIQUIDO (EUR): ' || CAST((o_orderkey * 7) % 9000 + 1000 AS VARCHAR) || ',' || lpad(CAST(o_orderkey % 100 AS VARCHAR), 2, '0')
                                      || ' NETO ' || CAST((o_orderkey * 3) % 9000 + 1000 AS VARCHAR) || ',' || lpad(CAST(o_orderkey % 100 AS VARCHAR), 2, '0')
                                      || ' I.V.A.: ' || CAST((o_orderkey * 2) % 9000 + 1000 AS VARCHAR) || ',' || lpad(CAST(o_orderkey % 100 AS VARCHAR), 2, '0')
                                      || ' IVA 5%'
                          WHEN 4 THEN 'IVA 99 algo'
                          ELSE 'texto sin importes'
                     END AS texto
              FROM orders WHERE o_orderkey <= 5000
            )
            SELECT o_orderkey, escenario, texto,
                   {_bank_max_sql(_PAT_TOTAL, "contains(lower(texto), 'total') OR contains(lower(texto), 'líquido') OR contains(lower(texto), 'liquido') OR contains(lower(texto), 'importe') OR contains(lower(texto), 'suma')")} AS total_factura,
                   {_bank_max_sql(_PAT_BASE, "contains(lower(texto), 'base') OR contains(lower(texto), 'subtotal') OR contains(lower(texto), 'neto')")} AS base_imponible,
                   {_bank_max_sql(_PAT_CUOTA, "contains(lower(texto), 'iva') OR contains(lower(texto), 'i.v.a') OR contains(lower(texto), 'cuota')")} AS cuota_iva,
                   COALESCE(
                     (list_filter(
                        CASE WHEN regexp_matches(texto, '\\d')
                              AND (contains(lower(texto), 'iva') OR contains(lower(texto), 'i.v.a') OR contains(lower(texto), 'al'))
                             THEN list_filter(
                                    list_transform(
                                      list_filter(list_transform({_bank_extracts_sql(_PAT_TIPO)}, x -> trim(x)), x -> x <> ''),
                                      x -> TRY_CAST(x AS INT)),
                                    n -> n IS NOT NULL AND n >= 0 AND n <= 30)
                             ELSE CAST([] AS INT[]) END,
                        n -> list_contains([4, 10, 21], n)))[1],
                     (CASE WHEN regexp_matches(texto, '\\d')
                            AND (contains(lower(texto), 'iva') OR contains(lower(texto), 'i.v.a') OR contains(lower(texto), 'al'))
                           THEN list_filter(
                                  list_transform(
                                    list_filter(list_transform({_bank_extracts_sql(_PAT_TIPO)}, x -> trim(x)), x -> x <> ''),
                                    x -> TRY_CAST(x AS INT)),
                                  n -> n IS NOT NULL AND n >= 0 AND n <= 30)
                           ELSE CAST([] AS INT[]) END)[1],
                     21) AS tipo_iva
            FROM d ORDER BY o_orderkey
        """,
        "f1_cif_extraction": f"""
            WITH d AS (
              SELECT o_orderkey, o_orderkey % 7 AS escenario,
                     CASE o_orderkey % 7
                          WHEN 0 THEN 'empresa B' || lpad(CAST((o_orderkey * 37) % 100000000 AS VARCHAR), 8, '0') || ' activa'
                          WHEN 1 THEN 'ref B-' || lpad(CAST((o_orderkey * 37) % 100000000 AS VARCHAR), 8, '0') || '9 x'
                          WHEN 2 THEN 'C.I.F.: A-' || lpad(CAST((o_orderkey * 37) % 100000000 AS VARCHAR), 8, '0') || ' sociedad'
                          WHEN 3 THEN 'dni ' || lpad(CAST((o_orderkey * 37) % 100000000 AS VARCHAR), 8, '0') || 'Z fin'
                          WHEN 4 THEN 'b' || lpad(CAST((o_orderkey * 37) % 100000000 AS VARCHAR), 8, '0') || ' minuscula'
                          WHEN 5 THEN 'CIF: A-' || substring(lpad(CAST((o_orderkey * 37) % 100000000 AS VARCHAR), 8, '0'), 1, 7) || ' corto'
                          ELSE 'sin identificador 99'
                     END AS texto
              FROM orders WHERE o_orderkey <= 5000
            ), c AS (
              SELECT *,
                     list_transform(
                       list_filter(
                         list_transform({_F1_SQL_EXTRACTS}, x -> trim(x)),
                         x -> x <> ''),
                       x -> regexp_replace(x, '[\\s\\-\\.]', '', 'g')) AS cleaned
              FROM d
            )
            SELECT o_orderkey, escenario, texto,
                   CASE WHEN regexp_matches(texto, '\\d') THEN
                     COALESCE(
                       (list_filter(cleaned, x -> length(x) >= 9))[1],
                       cleaned[1])
                   END AS proveedor_cif
            FROM c ORDER BY o_orderkey
        """,
        "f2_invoice_number": f"""
            WITH d AS (
              SELECT o_orderkey, o_orderkey % 6 AS escenario,
                     CASE o_orderkey % 6
                          WHEN 0 THEN 'Nº FACTURA' || chr(10) || CAST(o_orderkey % 90000 + 10000 AS VARCHAR)
                                      || ' texto FACTURA ' || CAST(o_orderkey % 900 + 100 AS VARCHAR)
                          WHEN 1 THEN 'factura: ' || CAST(o_orderkey % 900 + 100 AS VARCHAR) || '-'
                                      || lpad(CAST(o_orderkey % 100 AS VARCHAR), 2, '0') || '/A total'
                          WHEN 2 THEN 'NUM ' || CAST(o_orderkey % 9000 + 1000 AS VARCHAR)
                                      || ' y f.n: ' || lpad(CAST(o_orderkey % 100 AS VARCHAR), 2, '0')
                          WHEN 3 THEN 'invoice # ' || CAST(o_orderkey % 900 + 100 AS VARCHAR)
                          WHEN 4 THEN 'sin referencia alguna 123'
                          ELSE 'FACTURA' || chr(10) || lpad(CAST(o_orderkey % 100 AS VARCHAR), 2, '0')
                     END AS texto
              FROM orders WHERE o_orderkey <= 5000
            ), c AS (
              SELECT *,
                     list_filter(
                       list_transform(
                         list_filter(
                           list_transform(
                             {_F2_SQL_EXTRACTS},
                             x -> trim(x)),
                           x -> x <> ''),
                         x -> trim(regexp_replace(x, '\\s+', ' ', 'g'))),
                       x -> length(x) >= 1 AND length(x) <= 25 AND regexp_matches(x, '\\d')) AS cands
              FROM d
            )
            SELECT o_orderkey, escenario, texto,
                   CASE WHEN regexp_matches(texto, '\\d')
                         AND (contains(lower(texto), 'factura') OR contains(lower(texto), 'invoice')
                              OR contains(lower(texto), 'nº') OR contains(lower(texto), 'num')
                              OR contains(lower(texto), 'fn') OR contains(lower(texto), 'f.n'))
                         AND len(cands) > 0
                        THEN list_reduce(cands, (acc, x) -> CASE WHEN length(x) < length(acc) THEN x ELSE acc END)
                        ELSE 'SIN_NUMERO' END AS numero_factura
            FROM c ORDER BY o_orderkey
        """,
        "s2_mime_sniffing": """
            WITH u AS (
              SELECT 'https://x.example/d/' || CAST(p_partkey AS VARCHAR) || '/' ||
                     (['factura.pdf','foto.JPG','scan.jpeg','captura.PNG',
                       'whatsapp_123.png','documento.docx','sin_extension'])[CAST(p_partkey % 7 AS INT) + 1] AS url
              FROM part WHERE p_partkey <= 600
            ), m AS (
              SELECT lower(list_extract(string_split(url, '/'), -1)) AS fn FROM u
            )
            SELECT CASE WHEN starts_with(fn, 'whatsapp_') THEN 'image/jpeg'
                        WHEN ends_with(fn, '.pdf') THEN 'application/pdf'
                        WHEN ends_with(fn, '.jpg') OR ends_with(fn, '.jpeg') THEN 'image/jpeg'
                        WHEN ends_with(fn, '.png') THEN 'image/png'
                        ELSE 'application/pdf' END AS mime,
                   COUNT(*) AS docs
            FROM m GROUP BY 1 ORDER BY mime
        """,
        "p4_p7_line_parsers": """
            WITH base AS (
              SELECT p_partkey,
                     (['ABC123','4567','prod AB12','prod 123X','prod'])[CAST(p_partkey % 5 AS INT) + 1]
                     || ' ' ||
                     (['2,5 kg','3 uds','0 g','7,25',''])[CAST((p_partkey // 5) % 5 AS INT) + 1]
                     || ' con ' ||
                     (['12,34 €','€ 5','9,99 euros','8,88',''])[CAST((p_partkey // 25) % 5 AS INT) + 1] AS linea
              FROM part WHERE p_partkey <= 500
            )
            SELECT p_partkey, linea,
                   COALESCE(
                     CASE WHEN TRY_CAST(replace(regexp_extract(linea, '(?i)(\\d+[,\\.]\\d+)\\s*(?:kg|kilogramos?|gramos?|g|unidades?|uds?|piezas?|litros?|l|ml)', 1), ',', '.') AS DOUBLE) > 0
                          THEN TRY_CAST(replace(regexp_extract(linea, '(?i)(\\d+[,\\.]\\d+)\\s*(?:kg|kilogramos?|gramos?|g|unidades?|uds?|piezas?|litros?|l|ml)', 1), ',', '.') AS DOUBLE) END,
                     CASE WHEN TRY_CAST(regexp_extract(linea, '(?i)(\\d+)\\s*(?:kg|kilogramos?|gramos?|g|unidades?|uds?|piezas?|litros?|l|ml)', 1) AS DOUBLE) > 0
                          THEN TRY_CAST(regexp_extract(linea, '(?i)(\\d+)\\s*(?:kg|kilogramos?|gramos?|g|unidades?|uds?|piezas?|litros?|l|ml)', 1) AS DOUBLE) END,
                     CASE WHEN TRY_CAST(replace(regexp_extract(linea, '^(\\d+[,\\.]\\d+)', 1), ',', '.') AS DOUBLE) > 0
                          THEN TRY_CAST(replace(regexp_extract(linea, '^(\\d+[,\\.]\\d+)', 1), ',', '.') AS DOUBLE) END,
                     CASE WHEN TRY_CAST(regexp_extract(linea, '^(\\d+)', 1) AS DOUBLE) > 0
                          THEN TRY_CAST(regexp_extract(linea, '^(\\d+)', 1) AS DOUBLE) END,
                     CAST(1.0 AS DOUBLE)) AS cantidad,
                   COALESCE(
                     CASE WHEN TRY_CAST(replace(regexp_extract(linea, '(\\d+[,\\.]\\d{2})\\s*€', 1), ',', '.') AS DOUBLE) > 0
                          THEN TRY_CAST(replace(regexp_extract(linea, '(\\d+[,\\.]\\d{2})\\s*€', 1), ',', '.') AS DOUBLE) END,
                     CASE WHEN TRY_CAST(replace(regexp_extract(linea, '€\\s*(\\d+[,\\.]\\d{2})', 1), ',', '.') AS DOUBLE) > 0
                          THEN TRY_CAST(replace(regexp_extract(linea, '€\\s*(\\d+[,\\.]\\d{2})', 1), ',', '.') AS DOUBLE) END,
                     CASE WHEN TRY_CAST(replace(regexp_extract(linea, '(?i)(\\d+[,\\.]\\d{2})\\s*euros?', 1), ',', '.') AS DOUBLE) > 0
                          THEN TRY_CAST(replace(regexp_extract(linea, '(?i)(\\d+[,\\.]\\d{2})\\s*euros?', 1), ',', '.') AS DOUBLE) END,
                     CASE WHEN TRY_CAST(replace(regexp_extract(linea, '(?i)(\\d+[,\\.]\\d{2})\\s*eur', 1), ',', '.') AS DOUBLE) > 0
                          THEN TRY_CAST(replace(regexp_extract(linea, '(?i)(\\d+[,\\.]\\d{2})\\s*eur', 1), ',', '.') AS DOUBLE) END,
                     CASE WHEN TRY_CAST(replace(regexp_extract(linea, '(\\d+[,\\.]\\d{2})$', 1), ',', '.') AS DOUBLE) > 0
                          THEN TRY_CAST(replace(regexp_extract(linea, '(\\d+[,\\.]\\d{2})$', 1), ',', '.') AS DOUBLE) END,
                     CASE WHEN TRY_CAST(regexp_extract(linea, '(\\d+)\\s*€', 1) AS DOUBLE) > 0
                          THEN TRY_CAST(regexp_extract(linea, '(\\d+)\\s*€', 1) AS DOUBLE) END,
                     CASE WHEN TRY_CAST(regexp_extract(linea, '€\\s*(\\d+)', 1) AS DOUBLE) > 0
                          THEN TRY_CAST(regexp_extract(linea, '€\\s*(\\d+)', 1) AS DOUBLE) END) AS precio,
                   COALESCE(
                     nullif(regexp_extract(linea, '^([A-Z0-9]{3,10})\\s', 1), ''),
                     nullif(regexp_extract(linea, '^(\\d{4,8})\\s', 1), ''),
                     nullif(regexp_extract(linea, '([A-Z]{2,4}\\d{2,6})', 1), ''),
                     nullif(regexp_extract(linea, '(\\d{3,6}[A-Z]{1,3})', 1), '')) AS codigo,
                   lower(COALESCE(
                     nullif(regexp_extract(linea, '(?i)(kg|kilogramos?)', 1), ''),
                     nullif(regexp_extract(linea, '(?i)(g|gramos?)', 1), ''),
                     nullif(regexp_extract(linea, '(?i)(l|litros?)', 1), ''),
                     nullif(regexp_extract(linea, '(?i)(ml|mililitros?)', 1), ''),
                     nullif(regexp_extract(linea, '(?i)(uds?|unidades?)', 1), ''),
                     nullif(regexp_extract(linea, '(?i)(piezas?|pzas?)', 1), ''),
                     nullif(regexp_extract(linea, '(?i)(cajas?)', 1), ''),
                     nullif(regexp_extract(linea, '(?i)(paquetes?)', 1), ''))) AS unidad
            FROM base ORDER BY p_partkey
        """,
        "p14_multi_price": f"""
            WITH base AS (
              SELECT p_partkey,
                     (['pollo','cerveza','chuleta','merluza','queso','tomate','pan','cosa'])[CAST(p_partkey % 8 AS INT) + 1]
                     || ' ' ||
                     (['12 docena','24x33cl pack','2,5 kg','6 piezas','70 cl','rioja reserva','sin formato'])[CAST((p_partkey // 8) % 7 AS INT) + 1] AS descripcion,
                     CASE WHEN p_partkey % 5 = 0 THEN '1 kg' END AS formato_comercial,
                     p_retailprice AS precio
              FROM part WHERE p_partkey <= 400
            ), t AS (
              SELECT *, lower(descripcion) AS ld,
                     lower(COALESCE(formato_comercial, descripcion)) AS tx
              FROM base
            ), ty AS (
              SELECT *,
                CASE WHEN regexp_matches(ld, '(huevo|huevos|egg|eggs|clara|yema|gallina|pollo)') THEN 'huevos'
                     WHEN regexp_matches(ld, '(cerveza|vino|refresco|agua|zumo|bebida|heineken|cruzcampo|estella|mahou|san miguel|estrella|damm|amstel|corona|budweiser|guinness|paulaner|franziskaner|klein|radler|sin alcohol|0\\.0|0,0|amontillado|fino|oloroso|pedro ximenez|manzanilla|palo cortado|verdejo|albariño|godello|mencía|garnacha|tempranillo|rioja|ribera|chardonnay|sauvignon blanc|pinot noir|merlot|cabernet|syrah|shiraz|malbec)') THEN 'bebida'
                     WHEN regexp_matches(ld, '(chuleta|pollo|ternera|cerdo|carne|filete|lomo|solomillo|entrecot|costilla|panceta|jamón|salchicha|hamburguesa|albóndiga|salchichón|chorizo|morcilla|butifarra)') THEN 'carne'
                     WHEN regexp_matches(ld, '(pescado|merluza|salmón|atún|gambas|langostinos|calamares|pulpo|sepia|bacalao|lubina|dorada|rodaballo|rape|pescadilla|boquerones|sardinas|anchoas)') THEN 'pescado'
                     WHEN regexp_matches(ld, '(leche|queso|yogur|mantequilla|nata|crema|helado|cuajada|requesón|ricotta|mozzarella|gouda|cheddar|parmesano|manchego|roquefort|brie|camembert)') THEN 'lacteo'
                     WHEN regexp_matches(ld, '(lechuga|tomate|cebolla|patata|zanahoria|manzana|naranja|plátano|fresa|uva|melón|sandía|pimiento|berenjena|calabacín|pepino|espinaca|acelga)') THEN 'verdura'
                     WHEN regexp_matches(ld, '(pan|bollo|croissant|donut|magdalena|galleta|pastel|tarta|bizcocho|rosquilla|churro|ensaimada|brioche)') THEN 'panaderia'
                     ELSE 'general' END AS tipo
              FROM t
            ), ff AS (
              SELECT *,
                CASE WHEN regexp_matches(tx, '{_P14_H}') THEN 'huevos'
                     WHEN regexp_matches(tx, '{_P14_PACK}') THEN 'bebida'
                     WHEN regexp_matches(tx, '{_P14_PESO}') THEN 'peso'
                     WHEN regexp_matches(tx, '{_P14_UNI}') THEN 'unidades'
                     WHEN regexp_matches(tx, '{_P14_LIQ}') THEN 'liquido'
                     WHEN regexp_matches(tx, '{_P14_VINO}') THEN 'bebida'
                END AS formato_tipo,
                regexp_matches(tx, '{_P14_PACK}') AS _is_pack
              FROM ty
            ), vals AS (
              SELECT *,
                CASE WHEN formato_tipo = 'huevos' THEN
                       CASE WHEN regexp_extract(tx, '{_P14_H}', 2) IN ('docena', 'docenas')
                            THEN CAST(regexp_extract(tx, '{_P14_H}', 1) AS DOUBLE) * 12
                            ELSE CAST(regexp_extract(tx, '{_P14_H}', 1) AS DOUBLE) END
                     WHEN formato_tipo = 'bebida' THEN
                       CASE WHEN _is_pack THEN CAST(regexp_extract(tx, '{_P14_PACK}', 1) AS DOUBLE)
                            ELSE CAST(1.0 AS DOUBLE) END
                     WHEN formato_tipo = 'unidades'
                          THEN CAST(regexp_extract(tx, '{_P14_UNI}', 1) AS DOUBLE)
                END AS _uds,
                CASE WHEN formato_tipo = 'bebida' THEN
                       CASE WHEN _is_pack THEN
                              CAST(regexp_extract(tx, '{_P14_PACK}', 1) AS DOUBLE)
                              * (CASE WHEN regexp_extract(tx, '{_P14_PACK}', 3) = 'cl'
                                      THEN CAST(replace(regexp_extract(tx, '{_P14_PACK}', 2), ',', '.') AS DOUBLE) / 100
                                      WHEN regexp_extract(tx, '{_P14_PACK}', 3) = 'ml'
                                      THEN CAST(replace(regexp_extract(tx, '{_P14_PACK}', 2), ',', '.') AS DOUBLE) / 1000
                                      ELSE CAST(replace(regexp_extract(tx, '{_P14_PACK}', 2), ',', '.') AS DOUBLE) END)
                            ELSE CAST(0.75 AS DOUBLE) END
                END AS _volt,
                CASE WHEN formato_tipo = 'peso' THEN
                       CASE WHEN regexp_extract(tx, '{_P14_PESO}', 2) IN ('g', 'gramos')
                            THEN CAST(replace(regexp_extract(tx, '{_P14_PESO}', 1), ',', '.') AS DOUBLE) / 1000
                            ELSE CAST(replace(regexp_extract(tx, '{_P14_PESO}', 1), ',', '.') AS DOUBLE) END
                END AS _peso,
                CASE WHEN formato_tipo = 'liquido' THEN
                       CASE WHEN regexp_extract(tx, '{_P14_LIQ}', 2) = 'cl'
                            THEN CAST(replace(regexp_extract(tx, '{_P14_LIQ}', 1), ',', '.') AS DOUBLE) / 100
                            WHEN regexp_extract(tx, '{_P14_LIQ}', 2) = 'ml'
                            THEN CAST(replace(regexp_extract(tx, '{_P14_LIQ}', 1), ',', '.') AS DOUBLE) / 1000
                            ELSE CAST(replace(regexp_extract(tx, '{_P14_LIQ}', 1), ',', '.') AS DOUBLE) END
                END AS _liq
              FROM ff
            )
            SELECT p_partkey, descripcion, formato_comercial, tipo, formato_tipo,
                   CASE WHEN tipo = 'huevos' AND formato_tipo = 'huevos' THEN precio / _uds END AS precio_por_huevo,
                   CASE WHEN tipo = 'bebida' AND formato_tipo = 'bebida' THEN precio / _uds
                        WHEN tipo = 'bebida' AND formato_tipo = 'unidades' THEN precio / _uds END AS precio_por_unidad,
                   CASE WHEN tipo = 'bebida' AND formato_tipo = 'bebida' THEN precio / _volt
                        WHEN tipo = 'bebida' AND formato_tipo = 'unidades' THEN precio / (_uds * CAST(0.75 AS DOUBLE))
                        WHEN tipo = 'lacteo' AND formato_tipo = 'liquido' THEN precio / _liq END AS precio_por_litro,
                   CASE WHEN tipo IN ('carne', 'pescado', 'verdura', 'panaderia') AND formato_tipo = 'peso' THEN precio / _peso
                        WHEN tipo = 'lacteo' AND formato_tipo = 'peso' THEN precio / _peso END AS precio_por_kg,
                   CASE WHEN tipo IN ('carne', 'pescado', 'verdura', 'panaderia') AND formato_tipo = 'unidades'
                        THEN precio / _uds END AS precio_por_pieza
            FROM vals ORDER BY p_partkey
        """,
        "p13_price_per_unit": f"""
            WITH kb(kb_idx, w1, w2, kb_peso, kb_vol) AS (
              VALUES {", ".join(f"({i}, '{w[0]}', '{w[1]}', " + (f"CAST({p} AS DOUBLE)" if p is not None else "CAST(NULL AS DOUBLE)") + ", " + (f"CAST({v} AS DOUBLE)" if v is not None else "CAST(NULL AS DOUBLE)") + ")" for i, (w, p, v, _f) in enumerate(_P11_KB))}
            ), base AS (
              SELECT p_partkey,
                     CASE WHEN p_partkey % {len(_P11_KB) + 3} < {len(_P11_KB)}
                          THEN 'prod ' || ([{", ".join(f"'{w[0]} {w[1]}'" for w, _p, _v, _f in _P11_KB)}])[CAST(p_partkey % {len(_P11_KB) + 3} AS INT) + 1]
                          WHEN p_partkey % {len(_P11_KB) + 3} = {len(_P11_KB)} THEN 'cosa 2,5 kg especial'
                          WHEN p_partkey % {len(_P11_KB) + 3} = {len(_P11_KB) + 1} THEN 'cosa 75 cl botella'
                          ELSE 'nada interesante' END AS descripcion,
                     CASE WHEN p_partkey % 7 = 0 THEN CAST(0.0 AS DOUBLE) ELSE p_retailprice END AS precio
              FROM part WHERE p_partkey <= 400
            ), e AS (
              SELECT *,
                     CASE WHEN regexp_extract(descripcion, '(\\d+(?:[,\\.]\\d+)?)\\s*kg', 1) <> ''
                          THEN CAST(replace(regexp_extract(descripcion, '(\\d+(?:[,\\.]\\d+)?)\\s*kg', 1), ',', '.') AS DOUBLE) END AS peso_explicito,
                     CASE WHEN regexp_extract(descripcion, '(\\d+(?:[,\\.]\\d+)?)\\s*cl', 1) <> ''
                          THEN CAST(replace(regexp_extract(descripcion, '(\\d+(?:[,\\.]\\d+)?)\\s*cl', 1), ',', '.') AS DOUBLE) / 100 END AS vol_explicito
              FROM base
            ), inf AS (
              SELECT p_partkey, kb_peso AS peso_kb, kb_vol AS vol_kb FROM (
                SELECT b.p_partkey, k.kb_peso, k.kb_vol,
                       ROW_NUMBER() OVER (PARTITION BY b.p_partkey ORDER BY k.kb_idx) AS rn
                FROM base b JOIN kb k
                  ON contains(lower(b.descripcion), k.w1) AND contains(lower(b.descripcion), k.w2)
              ) WHERE rn = 1
            )
            SELECT e.p_partkey, e.descripcion,
                   CASE WHEN precio > 0
                         AND (CASE WHEN peso_explicito IS NOT NULL AND peso_explicito > 0
                                   THEN peso_explicito ELSE peso_kb END) > 0
                        THEN FLOOR(precio / (CASE WHEN peso_explicito IS NOT NULL AND peso_explicito > 0
                                                  THEN peso_explicito ELSE peso_kb END) * 100 + 0.5) / 100
                   END AS precio_por_kg,
                   CASE WHEN precio > 0
                         AND (CASE WHEN vol_explicito IS NOT NULL AND vol_explicito > 0
                                   THEN vol_explicito ELSE vol_kb END) > 0
                        THEN FLOOR(precio / (CASE WHEN vol_explicito IS NOT NULL AND vol_explicito > 0
                                                  THEN vol_explicito ELSE vol_kb END) * 100 + 0.5) / 100
                   END AS precio_por_litro
            FROM e LEFT JOIN inf USING (p_partkey)
            ORDER BY p_partkey
        """,
        "f12_confidence": """
            WITH s AS (
              SELECT o_orderkey,
                     CASE WHEN (o_orderkey // 8) % 2 = 1 THEN o_totalprice ELSE CAST(0.0 AS DOUBLE) END AS total,
                     CASE WHEN (o_orderkey // 16) % 2 = 1 THEN o_totalprice / CAST(1.21 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS base
              FROM orders WHERE o_orderkey <= 5000
            ), c AS (
              SELECT o_orderkey, total, base,
                     CASE WHEN (o_orderkey // 32) % 2 = 1 THEN total - base ELSE CAST(0.0 AS DOUBLE) END AS cuota
              FROM s
            ), k AS (
              SELECT o_orderkey,
                     LEAST(CAST(0.3 AS DOUBLE)
                       + (CASE WHEN (o_orderkey // 1) % 2 = 1 THEN 0.2 ELSE 0.0 END)
                       + (CASE WHEN (o_orderkey // 2) % 2 = 1 THEN 0.15 ELSE 0.0 END)
                       + (CASE WHEN (o_orderkey // 4) % 2 = 1 THEN 0.1 ELSE 0.0 END)
                       + (CASE WHEN total > 0 THEN 0.15 ELSE 0.0 END)
                       + (CASE WHEN base > 0 THEN 0.1 ELSE 0.0 END)
                       + (CASE WHEN ABS(total - (base + cuota)) <= 0.1 THEN 0.1 ELSE 0.0 END),
                       CAST(1.0 AS DOUBLE)) AS conf
              FROM c
            )
            SELECT o_orderkey,
                   FLOOR(conf * 100 + 0.5) / 100 AS confianza_global,
                   FLOOR(conf * CAST(0.8 AS DOUBLE) * 100 + 0.5) / 100 AS confianza_proveedor,
                   FLOOR(conf * CAST(0.9 AS DOUBLE) * 100 + 0.5) / 100 AS confianza_datos_fiscales,
                   FLOOR(conf * CAST(0.85 AS DOUBLE) * 100 + 0.5) / 100 AS confianza_importes
            FROM k ORDER BY o_orderkey
        """,
        "p9_price_closure": """
            WITH base AS (
              SELECT o_orderkey,
                     o_orderkey % 8 AS escenario,
                     CASE WHEN ([0,4,10,21])[CAST(o_custkey % 4 AS INT) + 1] = 0 THEN 21
                          ELSE ([0,4,10,21])[CAST(o_custkey % 4 AS INT) + 1] END AS tipo,
                     CASE WHEN o_orderkey % 8 IN (1, 5) THEN o_totalprice END AS u_sin,
                     CASE WHEN o_orderkey % 8 = 0 THEN o_totalprice END AS u_con,
                     CASE WHEN o_orderkey % 8 IN (3, 4) THEN o_totalprice END AS t_sin,
                     CASE WHEN o_orderkey % 8 IN (2, 6) THEN o_totalprice END AS t_con,
                     CASE WHEN o_orderkey % 8 IN (0, 3, 5, 6)
                          THEN CAST(o_custkey % 5 AS DOUBLE) END AS qty
              FROM orders WHERE o_orderkey <= 5000
            ), f AS (
              SELECT *, 1 + tipo / 100 AS factor FROM base
            ),
            a1 AS (SELECT * REPLACE (CASE WHEN u_con IS NOT NULL AND u_con <> 0 AND (u_sin IS NULL OR u_sin = 0)
                                          THEN u_con / factor ELSE u_sin END AS u_sin) FROM f),
            a2 AS (SELECT * REPLACE (CASE WHEN u_sin IS NOT NULL AND u_sin <> 0 AND (u_con IS NULL OR u_con = 0)
                                          THEN u_sin * factor ELSE u_con END AS u_con) FROM a1),
            a3 AS (SELECT * REPLACE (CASE WHEN t_con IS NOT NULL AND t_con <> 0 AND (t_sin IS NULL OR t_sin = 0)
                                          THEN t_con / factor ELSE t_sin END AS t_sin) FROM a2),
            a4 AS (SELECT * REPLACE (CASE WHEN t_sin IS NOT NULL AND t_sin <> 0 AND (t_con IS NULL OR t_con = 0)
                                          THEN t_sin * factor ELSE t_con END AS t_con) FROM a3),
            a5 AS (SELECT * REPLACE (
                     CASE WHEN (u_sin IS NULL OR u_sin = 0) AND t_sin IS NOT NULL AND t_sin <> 0
                               AND qty IS NOT NULL AND qty <> 0 AND qty > 0
                          THEN t_sin / qty ELSE u_sin END AS u_sin,
                     CASE WHEN (u_sin IS NULL OR u_sin = 0) AND t_sin IS NOT NULL AND t_sin <> 0
                               AND qty IS NOT NULL AND qty <> 0 AND qty > 0
                          THEN (t_sin / qty) * factor ELSE u_con END AS u_con) FROM a4),
            a6 AS (SELECT * REPLACE (
                     CASE WHEN (t_sin IS NULL OR t_sin = 0) AND u_sin IS NOT NULL AND u_sin <> 0
                               AND qty IS NOT NULL AND qty <> 0 AND qty > 0
                          THEN u_sin * qty ELSE t_sin END AS t_sin,
                     CASE WHEN (t_sin IS NULL OR t_sin = 0) AND u_sin IS NOT NULL AND u_sin <> 0
                               AND qty IS NOT NULL AND qty <> 0 AND qty > 0
                          THEN (u_sin * qty) * factor ELSE t_con END AS t_con) FROM a5),
            a7 AS (SELECT * REPLACE (
                     CASE WHEN u_con IS NOT NULL AND u_con <> 0 AND qty IS NOT NULL AND qty <> 0
                               AND (t_sin IS NULL OR t_sin = 0)
                          THEN u_con / factor ELSE u_sin END AS u_sin,
                     CASE WHEN u_con IS NOT NULL AND u_con <> 0 AND qty IS NOT NULL AND qty <> 0
                               AND (t_sin IS NULL OR t_sin = 0)
                          THEN (u_con / factor) * qty ELSE t_sin END AS t_sin,
                     CASE WHEN u_con IS NOT NULL AND u_con <> 0 AND qty IS NOT NULL AND qty <> 0
                               AND (t_sin IS NULL OR t_sin = 0)
                          THEN u_con * qty ELSE t_con END AS t_con) FROM a6),
            a8 AS (SELECT * REPLACE (
                     CASE WHEN t_con IS NOT NULL AND t_con <> 0 AND qty IS NOT NULL AND qty <> 0
                               AND (u_sin IS NULL OR u_sin = 0)
                          THEN t_con / factor ELSE t_sin END AS t_sin,
                     CASE WHEN t_con IS NOT NULL AND t_con <> 0 AND qty IS NOT NULL AND qty <> 0
                               AND (u_sin IS NULL OR u_sin = 0)
                          THEN (t_con / factor) / qty ELSE u_sin END AS u_sin,
                     CASE WHEN t_con IS NOT NULL AND t_con <> 0 AND qty IS NOT NULL AND qty <> 0
                               AND (u_sin IS NULL OR u_sin = 0)
                          THEN ((t_con / factor) / qty) * factor ELSE u_con END AS u_con) FROM a7)
            SELECT o_orderkey, escenario, tipo,
                   u_sin AS precio_unitario_sin_iva,
                   u_con AS precio_unitario_con_iva,
                   t_sin AS precio_total_linea_sin_iva,
                   t_con AS precio_total_linea_con_iva
            FROM a8 ORDER BY o_orderkey
        """,
        "p8_p15_products_normalized": f"""
            WITH base AS (
              SELECT p_partkey, p_name, p_partkey % 4 AS v,
                     ([{", ".join(f"'{keys[0]}'" for _, keys in _P15_CATEGORIES)}, 'zzz'])
                       [CAST(p_partkey % {len(_P15_CATEGORIES) + 1} AS INT) + 1] AS kw
              FROM part WHERE p_partkey <= 300
            ), r AS (
              SELECT p_partkey,
                     CASE v WHEN 0 THEN p_name || ' “' || kw || '”'
                            WHEN 1 THEN p_name || ' – ' || kw || ' es'
                            WHEN 2 THEN p_name || '  ' || kw || ' x'
                            ELSE p_name || ' ' || kw || ' cc.' END AS raw
              FROM base
            ),
            s1 AS (SELECT p_partkey, raw, regexp_replace(lower(raw), '^\\s+|\\s+$', '', 'g') AS t FROM r),
            s2 AS (SELECT p_partkey, raw, regexp_replace(t, '[“”‘’]', '"', 'g') AS t FROM s1),
            s3 AS (SELECT p_partkey, raw, regexp_replace(t, '[–—]', '-', 'g') AS t FROM s2),
            s4 AS (SELECT p_partkey, raw, regexp_replace(t, '\\s+', ' ', 'g') AS t FROM s3),
            s5 AS (SELECT p_partkey, raw, regexp_replace(t, '\\s+[a-z]\\s*$', '') AS t FROM s4),
            s6 AS (SELECT p_partkey, raw, regexp_replace(t, '\\s+es\\s*$', '') AS t FROM s5),
            s7 AS (SELECT p_partkey, raw, regexp_replace(t, '\\s+cc\\s*$', '') AS t FROM s6),
            s8 AS (SELECT p_partkey, raw, regexp_replace(replace(t, '×', 'x'), '\\.', '', 'g') AS t FROM s7),
            s9 AS (SELECT p_partkey, raw, regexp_replace(t, '^\\s+|\\s+$', '', 'g') AS t FROM s8)
            SELECT p_partkey,
                   raw AS descripcion_original,
                   t AS descripcion_normalizada,
                   CASE {" ".join("WHEN " + " OR ".join(f"contains(lower(raw), '{k}')" for k in keys) + f" THEN '{name}'" for name, keys in _P15_CATEGORIES)}
                        ELSE 'general' END AS categoria
            FROM s9 ORDER BY p_partkey
        """,
        "f7_amount_variants": """
            WITH base AS (
              SELECT o_orderkey, o_orderkey % 8 AS escenario,
                     CAST(o_orderkey % 900 + 100 AS VARCHAR) AS d3,
                     lpad(CAST(o_custkey % 100 AS VARCHAR), 2, '0') AS d2,
                     CAST(o_custkey % 10 AS VARCHAR) AS d1
              FROM orders WHERE o_orderkey <= 6000
            ), t AS (
              SELECT o_orderkey, escenario,
                     CASE escenario WHEN 0 THEN d3 || '.234,' || d2
                                    WHEN 1 THEN d3 || ',234.' || d2
                                    WHEN 2 THEN d3 || ',234'
                                    WHEN 3 THEN d3 || ',' || d1
                                    WHEN 4 THEN d3 || '.234'
                                    WHEN 5 THEN d3 || '.' || d2
                                    WHEN 6 THEN d3
                                    ELSE d3 || ' 345,' || d2 || ' €' END AS token
              FROM base
            ), p AS (
              SELECT *, regexp_replace(token, '[€$£¥\\s]', '', 'g') AS cl FROM t
            ), q AS (
              SELECT *,
                     contains(cl, ',') AS has_c, contains(cl, '.') AS has_d,
                     length(cl) - position(',' IN reverse(cl)) + 1 AS last_c,
                     length(cl) - position('.' IN reverse(cl)) + 1 AS last_d,
                     string_split(cl, ',') AS pc, string_split(cl, '.') AS pd
              FROM p
            ), f AS (
              SELECT *,
                CASE WHEN has_c AND has_d AND last_c > last_d THEN replace(replace(cl, '.', ''), ',', '.')
                     WHEN has_c AND has_d THEN replace(cl, ',', '')
                     WHEN has_c AND len(pc) = 2 AND length(pc[2]) <= 2 THEN replace(cl, ',', '.')
                     WHEN has_c THEN replace(cl, ',', '')
                     WHEN has_d AND len(pd) = 2 AND length(pd[2]) <= 2 THEN cl
                     WHEN has_d THEN replace(cl, '.', '')
                     ELSE cl END AS fb,
                CASE WHEN has_c AND has_d THEN replace(replace(cl, '.', ''), ',', '.')
                     WHEN has_c THEN replace(cl, ',', '.')
                     ELSE cl END AS st
              FROM q
            )
            SELECT o_orderkey, escenario, token,
                   FLOOR(TRY_CAST(fb AS DOUBLE) * 100 + 0.5) / 100 AS importe_fallback,
                   TRY_CAST(st AS DOUBLE) AS importe_estricto,
                   FLOOR(TRY_CAST(fb AS DOUBLE) * 100 + 0.5) / 100 = TRY_CAST(st AS DOUBLE) AS coinciden
            FROM f ORDER BY o_orderkey
        """,
        "f8_date_variants": """
            SELECT o_orderkey,
                   CAST(o_orderkey % 28 + 1 AS VARCHAR) || '/' ||
                   CAST(o_orderkey % 12 + 1 AS VARCHAR) || '/' ||
                   lpad(CAST(o_custkey % 100 AS VARCHAR), 2, '0') AS texto,
                   make_date(CAST(CASE WHEN o_custkey % 100 < 50 THEN 2000 + o_custkey % 100
                                       ELSE 1900 + o_custkey % 100 END AS INT),
                             CAST(o_orderkey % 12 + 1 AS INT),
                             CAST(o_orderkey % 28 + 1 AS INT)) AS fecha_fallback,
                   make_date(CAST(2000 + o_custkey % 100 AS INT),
                             CAST(o_orderkey % 12 + 1 AS INT),
                             CAST(o_orderkey % 28 + 1 AS INT)) AS fecha_estricta,
                   o_custkey % 100 < 50 AS coinciden
            FROM orders WHERE o_orderkey <= 6000
            ORDER BY o_orderkey
        """,
        "f11_fiscal_reconciliation": """
            WITH base AS (
              SELECT o_orderkey,
                     o_orderkey % 6 AS escenario,
                     ([4, 10, 21])[CAST(o_custkey % 3 AS INT) + 1] AS tipo,
                     CASE WHEN o_orderkey % 6 = 0 THEN o_totalprice
                          WHEN o_orderkey % 6 = 3 THEN FLOOR(o_totalprice * CAST(1.21 AS DOUBLE) * 100 + 0.5) / 100
                          WHEN o_orderkey % 6 = 4 THEN FLOOR(o_totalprice * CAST(1.21 AS DOUBLE) * 100 + 0.5) / 100 + 5
                          WHEN o_orderkey % 6 = 5 THEN o_totalprice + FLOOR(o_totalprice * CAST(0.21 AS DOUBLE) * 100 + 0.5) / 100
                          ELSE CAST(0.0 AS DOUBLE) END AS _t,
                     CASE WHEN o_orderkey % 6 = 0 THEN CAST(0.0 AS DOUBLE) ELSE o_totalprice END AS _b,
                     CASE WHEN o_orderkey % 6 = 2 THEN FLOOR(o_totalprice * CAST(0.1 AS DOUBLE) * 100 + 0.5) / 100
                          WHEN o_orderkey % 6 IN (4, 5) THEN FLOOR(o_totalprice * CAST(0.21 AS DOUBLE) * 100 + 0.5) / 100
                          ELSE CAST(0.0 AS DOUBLE) END AS _c
              FROM orders WHERE o_orderkey <= 6000
            ), br AS (
              SELECT *,
                     CASE WHEN _t > 0 AND _b = 0 AND tipo > 0 THEN 1
                          WHEN _b > 0 AND _c = 0 AND tipo > 0 THEN 2
                          WHEN _b > 0 AND _c > 0 AND _t = 0 THEN 3
                          WHEN _b > 0 AND _t > 0 AND _c = 0 THEN 4
                          ELSE 0 END AS _br
              FROM base
            ), filled AS (
              SELECT *,
                     CASE WHEN _br = 1 THEN _t / (1 + tipo / 100) ELSE _b END AS _fb,
                     CASE WHEN _br = 1 THEN _t - _t / (1 + tipo / 100)
                          WHEN _br = 2 THEN _b * (tipo / 100)
                          WHEN _br = 4 THEN _t - _b
                          ELSE _c END AS _fc,
                     CASE WHEN _br = 2 THEN _b + _b * (tipo / 100)
                          WHEN _br = 3 THEN _b + _c
                          ELSE _t END AS _ft
              FROM br
            )
            SELECT o_orderkey, escenario, tipo,
                   FLOOR(_fb * 100 + 0.5) / 100 AS base_imponible,
                   FLOOR(_fc * 100 + 0.5) / 100 AS cuota_iva,
                   FLOOR((CASE WHEN _fb > 0 AND _fc > 0 AND _ft > 0
                                AND ABS(_ft - (_fb + _fc)) > 0.01
                               THEN _fb + _fc ELSE _ft END) * 100 + 0.5) / 100 AS total_factura
            FROM filled ORDER BY o_orderkey
        """,
        "txt_field_extraction": """
            WITH aug AS (
              SELECT lang,
                     COALESCE(text, '')
                     || CASE WHEN doc_id % 2 = 0
                             THEN ' C.I.F. B' || lpad(CAST((doc_id * 37) % 100000000 AS VARCHAR), 8, '0')
                             ELSE '' END
                     || CASE WHEN doc_id % 3 <> 0
                             THEN ' FECHA ' || CAST(doc_id % 28 + 1 AS VARCHAR)
                                  || '/' || CAST(doc_id % 14 + 1 AS VARCHAR)
                                  || '/' || CAST(2020 + doc_id % 6 AS VARCHAR)
                             ELSE '' END
                     || CASE WHEN doc_id % 5 <> 0
                             THEN ' TOTAL ' || CAST((doc_id * 7) % 900 + 100 AS VARCHAR)
                                  || (CASE WHEN doc_id % 2 = 0 THEN ',' ELSE '.' END)
                                  || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                                  || ' BASE ' || CAST((doc_id * 3) % 900 + 100 AS VARCHAR)
                                  || (CASE WHEN doc_id % 2 = 0 THEN ',' ELSE '.' END)
                                  || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                             ELSE '' END AS text
              FROM documents
            ), d AS (
              SELECT lang,
                     regexp_extract_all(text,
                       '(\\b[A-Z]\\d{8}\\b|\\b[A-Z]\\d{7}[A-Z]\\b|\\b\\d{8}[A-Z]\\b)', 1) AS cifs,
                     list_transform(regexp_extract_all(text, '(\\d+[,\\.]\\d{2})', 1),
                                    s -> CAST(replace(s, ',', '.') AS DOUBLE)) AS amts,
                     list_filter(
                       list_transform(regexp_extract_all(text, '(\\d{1,2}/\\d{1,2}/\\d{4})', 1),
                                      s -> CAST(try_strptime(s, '%-d/%-m/%Y') AS DATE)),
                       dd -> dd IS NOT NULL AND dd >= DATE '1990-01-01' AND dd <= DATE '2030-12-31') AS fechas
              FROM aug
            )
            SELECT lang, COUNT(*) AS docs,
                   CAST(SUM(CASE WHEN len(cifs) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS cif_hits,
                   CAST(SUM(CASE WHEN len(fechas) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS fecha_hits,
                   CAST(SUM(CASE WHEN len(amts) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS amount_hits,
                   CAST(SUM(CASE WHEN len(amts) > 0
                            THEN CAST(list_max(amts) * 100 AS BIGINT) END) AS BIGINT) / 100.0 AS total_amount_max
            FROM d GROUP BY lang ORDER BY lang
        """,
        "c1_classify_documents": """
            WITH c AS (
              SELECT lang,
                     length(COALESCE(text, '')) < 10 AS short,
                     (contains(lower(COALESCE(text,'')), 'albarán') OR contains(lower(COALESCE(text,'')), 'albaran')
                      OR contains(lower(COALESCE(text,'')), 'delivery note') OR contains(lower(COALESCE(text,'')), 'nota de entrega')
                      OR contains(lower(COALESCE(text,'')), 'entrega') OR contains(lower(COALESCE(text,'')), 'entregado')
                      OR contains(lower(COALESCE(text,'')), 'recepción') OR contains(lower(COALESCE(text,'')), 'recibido')) AS has_alb,
                     (contains(lower(COALESCE(text,'')), 'factura') OR contains(lower(COALESCE(text,'')), 'invoice')
                      OR contains(lower(COALESCE(text,'')), 'total factura') OR contains(lower(COALESCE(text,'')), 'base imponible')
                      OR contains(lower(COALESCE(text,'')), 'cuota iva') OR contains(lower(COALESCE(text,'')), 'vencimiento')
                      OR contains(lower(COALESCE(text,'')), 'pagar')) AS has_fac,
                     len(regexp_extract_all(lower(COALESCE(text,'')), '(\\d+[,\\.]\\d{2}\\s*€)', 1)) AS precios,
                     (CAST(contains(lower(COALESCE(text,'')), 'transportista') AS INT)
                      + CAST(contains(lower(COALESCE(text,'')), 'conductor') AS INT)
                      + CAST(contains(lower(COALESCE(text,'')), 'matrícula') AS INT)
                      + CAST(contains(lower(COALESCE(text,'')), 'conformidad') AS INT)
                      + CAST(contains(lower(COALESCE(text,'')), 'firma') AS INT)
                      + CAST(contains(lower(COALESCE(text,'')), 'estado entrega') AS INT)) AS entrega
              FROM documents
            ), k AS (
              SELECT lang,
                     CASE WHEN short THEN 'factura'
                          WHEN has_alb AND NOT has_fac THEN 'albaran'
                          WHEN has_fac AND NOT has_alb THEN 'factura'
                          WHEN has_alb AND has_fac THEN 'factura'
                          WHEN precios > 3 THEN 'factura'
                          WHEN entrega > 1 THEN 'albaran'
                          ELSE 'factura' END AS tipo_documento,
                     CAST(CASE WHEN short THEN 0.3
                          WHEN has_alb OR has_fac THEN 0.95
                          WHEN precios > 3 THEN 0.7
                          WHEN entrega > 1 THEN 0.6
                          ELSE 0.5 END AS DOUBLE) AS confianza,
                     CASE WHEN short THEN 'texto_insuficiente'
                          WHEN has_alb AND NOT has_fac THEN 'albaran_sin_factura'
                          WHEN has_fac AND NOT has_alb THEN 'factura_sin_albaran'
                          WHEN has_alb AND has_fac THEN 'factura_con_ref_albaran'
                          WHEN precios > 3 THEN 'precios'
                          WHEN entrega > 1 THEN 'indicadores_entrega'
                          ELSE 'default' END AS razonamiento
              FROM c
            )
            SELECT lang, tipo_documento, confianza, razonamiento, COUNT(*) AS docs
            FROM k GROUP BY 1, 2, 3, 4
            ORDER BY lang, tipo_documento, confianza, razonamiento
        """,
        "txt_content_lines": """
            WITH seg AS (
              SELECT lang,
                     regexp_replace(s, '^\\s+|\\s+$', '', 'g') AS cand
              FROM documents,
                   unnest(string_split_regex(COALESCE(text, ''), '\\.\\s+')) AS t(s)
            ), k AS (
              SELECT lang,
                     CASE WHEN length(cand) >= 5 AND length(cand) <= 120
                           AND NOT regexp_matches(cand, '^\\d+$')
                           AND NOT regexp_matches(cand, '^\\d{1,2}[\\/\\-\\.]\\d{1,2}[\\/\\-\\.]\\d{2,4}$')
                           AND NOT regexp_matches(cand, '(?i)^(factura|invoice|fecha|date|cliente|customer)')
                           AND length(regexp_replace(cand, '[^a-zA-ZáéíóúüñÁÉÍÓÚÜÑ]', '', 'g')) >= 4
                           AND length(regexp_replace(cand, '[^a-zA-ZáéíóúüñÁÉÍÓÚÜÑ]', '', 'g')) >= length(cand) * 0.3
                          THEN 1 ELSE 0 END AS _k
              FROM seg
            )
            SELECT lang, COUNT(*) AS segmentos,
                   CAST(SUM(_k) AS BIGINT) AS contenido,
                   ((2 * SUM(_k) * 10000 + COUNT(*)) // (2 * COUNT(*))) / 100.0 AS pct_contenido
            FROM k GROUP BY lang ORDER BY lang
        """,
        "dedup_exact": """
            WITH g AS (
              SELECT md5(lower(regexp_replace(COALESCE(text, ''), '\\s+', ' ', 'g'))) AS fingerprint,
                     COUNT(*) AS copies
              FROM documents GROUP BY 1
            )
            SELECT COUNT(*) AS unique_docs,
                   CAST(SUM(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_groups,
                   CAST(SUM(CASE WHEN copies > 1 THEN copies ELSE 0 END) AS BIGINT) AS docs_in_dup_groups,
                   MAX(copies) AS max_copies
            FROM g
        """,
        "q08_price_history_log": """
            SELECT p_name,
                   CAST(l_shipdate AS DATE) AS fecha_compra,
                   ROUND(l_extendedprice, 2) AS precio,
                   date_diff('day', CAST(l_shipdate AS DATE), DATE '1999-01-01') AS dias_desde_compra,
                   o_orderkey, l_linenumber
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN orders ON l_orderkey = o_orderkey
            WHERE l_partkey <= 100
            ORDER BY p_name, fecha_compra, o_orderkey, l_linenumber
        """,
        "q11_spend_per_product": """
            SELECT p_name,
                   ((2 * SUM(CAST(l_extendedprice * 100 AS BIGINT) * (100 - CAST(l_discount * 100 AS BIGINT))) + 100)
                    // 200) / 100.0 AS gasto_total,
                   ((2 * SUM(CAST(l_extendedprice * 100 AS BIGINT)) + COUNT(*))
                    // (2 * COUNT(*))) / 100.0 AS precio_medio,
                   COUNT(*) AS num_lineas
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_name
            ORDER BY gasto_total DESC, p_name
            LIMIT 50
        """,
        "m3_levenshtein_pairs": """
            SELECT a.p_partkey AS k1, b.p_partkey AS k2,
                   levenshtein(a.p_name, b.p_name) AS lev
            FROM part a JOIN part b ON a.p_partkey + 1 = b.p_partkey
            WHERE a.p_partkey <= 100 AND b.p_partkey <= 100
            ORDER BY k1
        """,
        "m5_product_match_pairs": """
            WITH p AS (
              SELECT p_partkey AS k,
                     trim(regexp_replace(regexp_replace(lower(p_name), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS n
              FROM part WHERE p_partkey <= 200
            )
            SELECT a.k AS k1, b.k AS k2
            FROM p a JOIN p b ON a.k < b.k
            WHERE a.n = b.n
               OR (CAST(len(list_filter(string_split(a.n, ' '),
                                        x -> length(x) > 2 AND list_contains(string_split(b.n, ' '), x))) AS DOUBLE)
                   / len(string_split(a.n, ' '))) > 0.6
            ORDER BY k1, k2
        """,
        "m4_similarity_pairs": """
            WITH p AS (
              SELECT p_partkey AS k,
                     list_filter(string_split(trim(regexp_replace(regexp_replace(lower(p_name), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' '),
                                 x -> length(x) > 2) AS ws
              FROM part WHERE p_partkey <= 150
            ), m AS (
              SELECT a.k AS k1, b.k AS k2, a.ws AS w1s, b.ws AS w2s,
                     list_transform(a.ws, w1 ->
                       (list_filter(b.ws, w2 ->
                          w1 = w2
                          OR (length(w1) > 3 AND length(w2) > 3 AND (contains(w2, w1) OR contains(w1, w2)))
                          OR (abs(length(w1) - length(w2)) <= 2
                              AND ((CASE WHEN length(w1) > length(w2) THEN contains(w1, w2) ELSE contains(w2, w1) END)
                                   OR levenshtein(w1, w2) <= 2))))[1]) AS firsts
              FROM p a JOIN p b ON a.k + 1 = b.k
            )
            SELECT k1, k2,
                   FLOOR((CASE WHEN len(w1s) = 0 OR len(w2s) = 0 THEN CAST(0.0 AS DOUBLE)
                          ELSE list_sum(list_transform(list_zip(w1s, firsts), z ->
                                 CAST(CASE WHEN z[2] IS NULL THEN 0.0
                                      WHEN z[1] = z[2] THEN 1.0
                                      WHEN length(z[1]) > 3 AND length(z[2]) > 3
                                           AND (contains(z[2], z[1]) OR contains(z[1], z[2])) THEN 0.8
                                      ELSE 0.6 END AS DOUBLE)))
                               / greatest(len(w1s), len(w2s)) END) * 10000 + 0.5) / 10000 AS similitud
            FROM m ORDER BY k1
        """,
        "m14_duplicate_orders": """
            SELECT o_custkey, CAST(o_orderdate AS DATE) AS fecha,
                   COUNT(*) AS copies, MIN(o_orderkey) AS first_key
            FROM orders
            GROUP BY 1, 2
            HAVING COUNT(*) > 1
            ORDER BY o_custkey, fecha
        """,
        "dedup_embedding_cosine": """
            WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 80)
            SELECT a.vec_id AS id1, b.vec_id AS id2,
                   ROUND(
                     list_sum(list_transform(list_zip(a.embedding, b.embedding),
                                             x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                     / (sqrt(list_sum(list_transform(a.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
                        * sqrt(list_sum(list_transform(b.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))),
                   4) AS cos_sim
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE ROUND(
                    list_sum(list_transform(list_zip(a.embedding, b.embedding),
                                            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                    / (sqrt(list_sum(list_transform(a.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
                       * sqrt(list_sum(list_transform(b.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))),
                  4) >= 0.2
            ORDER BY id1, id2
        """,
        "master_products": """
            WITH ranked AS (
              SELECT l_partkey, l_extendedprice,
                     ROW_NUMBER() OVER (PARTITION BY l_partkey
                       ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC) AS rn_desc,
                     LAG(l_extendedprice) OVER (PARTITION BY l_partkey
                       ORDER BY l_shipdate, l_orderkey, l_linenumber) AS prev
              FROM lineitem WHERE l_partkey <= 500
            ), last AS (
              SELECT l_partkey,
                     ROUND(l_extendedprice, 2) AS precio_ultimo,
                     ROUND((l_extendedprice - prev) / prev * 100, 2) AS variacion_pct
              FROM ranked WHERE rn_desc = 1
            ), hist AS (
              SELECT l_partkey,
                     ROUND(MIN(l_extendedprice), 2) AS precio_minimo_historico,
                     ROUND(MAX(l_extendedprice), 2) AS precio_maximo_historico,
                     ((2 * SUM(CAST(l_extendedprice * 100 AS BIGINT)) + COUNT(*))
                      // (2 * COUNT(*))) / 100.0 AS precio_promedio,
                     COUNT(*) AS numero_compras
              FROM lineitem WHERE l_partkey <= 500 GROUP BY l_partkey
            )
            SELECT hist.*, last.precio_ultimo, last.variacion_pct
            FROM hist JOIN last USING (l_partkey)
            ORDER BY l_partkey
        """,
        "supplier_dim": """
            SELECT s_suppkey, s_name, n_name,
                   COUNT(*) AS num_lineas,
                   ((2 * SUM(CAST(l_extendedprice * 100 AS BIGINT) * (100 - CAST(l_discount * 100 AS BIGINT))) + 100)
                    // 200) / 100.0 AS facturacion,
                   CAST(MIN(l_shipdate) AS DATE) AS primera_venta,
                   CAST(MAX(l_shipdate) AS DATE) AS ultima_venta
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            GROUP BY s_suppkey, s_name, n_name
            ORDER BY facturacion DESC, s_suppkey
            LIMIT 50
        """,
        "price_history_append": """
            SELECT l_partkey,
                   CAST(l_shipdate AS DATE) AS fecha_compra,
                   ROUND(l_extendedprice, 2) AS precio,
                   ROUND(l_extendedprice - LAG(l_extendedprice) OVER (
                     PARTITION BY l_partkey ORDER BY l_shipdate, l_orderkey, l_linenumber), 2) AS delta_precio,
                   l_orderkey, l_linenumber
            FROM lineitem WHERE l_partkey <= 50
            ORDER BY l_partkey, fecha_compra, l_orderkey, l_linenumber
        """,
        "q14_ultima_factura": """
            WITH o AS (
              SELECT *, CAST(o_orderdate AS DATE) + INTERVAL (CAST(o_orderkey % 5 AS INT)) DAY AS _fe
              FROM orders
            )
            SELECT o_orderkey, o_custkey,
                   CAST(o_orderdate AS DATE) AS fecha_factura,
                   CAST(_fe AS DATE) AS fecha_extraccion,
                   ROUND(o_totalprice, 2) AS total_factura,
                   date_diff('day', CAST(o_orderdate AS DATE), CAST(_fe AS DATE)) AS dias_diferencia
            FROM o
            ORDER BY fecha_extraccion DESC, fecha_factura DESC, o_orderkey DESC
            LIMIT 1
        """,
        "q14_facturas_semana": """
            WITH a AS (SELECT date_trunc('week', MAX(o_orderdate)) AS semana FROM orders)
            SELECT COUNT(*) AS total_facturas,
                   CAST(SUM(CAST(o_totalprice * 100 AS BIGINT)) AS BIGINT) / 100.0 AS total_gastado
            FROM orders, a
            WHERE o_orderdate >= a.semana
        """,
        "q14_gasto_mes": """
            WITH a AS (SELECT date_trunc('month', MAX(o_orderdate)) AS mes FROM orders)
            SELECT CAST(SUM(CAST(o_totalprice * 100 AS BIGINT)) AS BIGINT) / 100.0 AS total_mes
            FROM orders, a
            WHERE date_trunc('month', o_orderdate) = a.mes
        """,
        "q14_proveedores_activos": """
            WITH a AS (SELECT MAX(CAST(l_shipdate AS DATE)) AS hoy FROM lineitem)
            SELECT s_name,
                   COUNT(*) AS num_facturas,
                   ((2 * SUM(CAST(l_extendedprice * 100 AS BIGINT) * (100 - CAST(l_discount * 100 AS BIGINT))) + 100)
                    // 200) / 100.0 AS total_gastado
            FROM lineitem, a
            JOIN supplier ON l_suppkey = s_suppkey
            WHERE CAST(l_shipdate AS DATE) >= a.hoy - INTERVAL 30 DAY
            GROUP BY s_name
            ORDER BY total_gastado DESC, s_name
        """,
        "q14_resumen_anual": """
            SELECT EXTRACT(YEAR FROM o_orderdate) AS anio,
                   COUNT(*) AS total_facturas,
                   CAST(SUM(CAST(o_totalprice * 100 AS BIGINT)) AS BIGINT) / 100.0 AS total_gastado,
                   ((2 * SUM(CAST(o_totalprice * 100 AS BIGINT)) + COUNT(*))
                    // (2 * COUNT(*))) / 100.0 AS promedio_factura
            FROM orders
            GROUP BY 1 ORDER BY anio DESC
        """,
        "q14_top_proveedores": """
            SELECT s_name,
                   COUNT(*) AS num_facturas,
                   ((2 * SUM(CAST(l_extendedprice * 100 AS BIGINT) * (100 - CAST(l_discount * 100 AS BIGINT))) + 100)
                    // 200) / 100.0 AS total_gastado
            FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
            GROUP BY s_name
            ORDER BY total_gastado DESC, s_name
            LIMIT 5
        """,
        "q15_hybrid_textual": """
            SELECT p_name,
                   COUNT(*) AS num_compras,
                   ((2 * SUM(CAST(l_extendedprice * 100 AS BIGINT) * (100 - CAST(l_discount * 100 AS BIGINT))) + 100)
                    // 200) / 100.0 AS gasto
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE lower(p_name) LIKE '%comprado%'
               OR lower(p_name) LIKE '%widget%'
               OR lower(p_name) LIKE '%rojo%'
               OR lower(p_name) LIKE '%bolt%'
            GROUP BY p_name
            ORDER BY gasto DESC, p_name
            LIMIT 20
        """,
        "q14_productos_categoria": """
            WITH a AS (SELECT MAX(CAST(l_shipdate AS DATE)) AS hoy FROM lineitem)
            SELECT p_type,
                   COUNT(*) AS num_productos,
                   ((2 * SUM(CAST(l_extendedprice * 100 AS BIGINT) * (100 - CAST(l_discount * 100 AS BIGINT))) + 100)
                    // 200) / 100.0 AS total_gastado
            FROM lineitem, a
            JOIN part ON l_partkey = p_partkey
            WHERE CAST(l_shipdate AS DATE) >= a.hoy - INTERVAL 90 DAY
            GROUP BY p_type
            ORDER BY total_gastado DESC, p_type
        """,
        "q14_ultima_factura_sistema": """
            WITH o AS (
              SELECT *, CAST(o_orderdate AS DATE) + INTERVAL (CAST(o_orderkey % 5 AS INT)) DAY AS _fe
              FROM orders
            ), a AS (SELECT MAX(CAST(_fe AS DATE)) AS hoy FROM o)
            SELECT o_orderkey,
                   CAST(o_orderdate AS DATE) AS fecha_factura,
                   CAST(_fe AS DATE) AS fecha_extraccion,
                   ROUND(o_totalprice, 2) AS total_factura,
                   date_diff('day', CAST(o_orderdate AS DATE), CAST(_fe AS DATE)) AS dias_diferencia,
                   CASE WHEN date_diff('day', CAST(_fe AS DATE), a.hoy) = 0 THEN 'Hoy'
                        WHEN date_diff('day', CAST(_fe AS DATE), a.hoy) = 1 THEN 'Ayer'
                        ELSE 'Hace ' || CAST(date_diff('day', CAST(_fe AS DATE), a.hoy) AS VARCHAR) || ' días'
                   END AS tiempo_llegada
            FROM o, a
            ORDER BY fecha_extraccion DESC, o_orderkey DESC
            LIMIT 1
        """,
        "q14_facturas_recientes": """
            WITH o AS (
              SELECT *, CAST(o_orderdate AS DATE) + INTERVAL (CAST(o_orderkey % 5 AS INT)) DAY AS _fe
              FROM orders
            ), a AS (SELECT MAX(CAST(_fe AS DATE)) AS hoy FROM o)
            SELECT o_orderkey,
                   CAST(o_orderdate AS DATE) AS fecha_factura,
                   CAST(_fe AS DATE) AS fecha_extraccion,
                   ROUND(o_totalprice, 2) AS total_factura,
                   CASE WHEN date_diff('day', CAST(_fe AS DATE), a.hoy) = 0 THEN 'Hoy'
                        WHEN date_diff('day', CAST(_fe AS DATE), a.hoy) = 1 THEN 'Ayer'
                        ELSE 'Hace ' || CAST(date_diff('day', CAST(_fe AS DATE), a.hoy) AS VARCHAR) || ' días'
                   END AS tiempo_llegada,
                   date_diff('day', CAST(o_orderdate AS DATE), CAST(_fe AS DATE)) AS dias_diferencia
            FROM o, a
            WHERE CAST(_fe AS DATE) >= a.hoy - INTERVAL 7 DAY
            ORDER BY fecha_extraccion DESC, o_orderkey DESC
            LIMIT 10
        """,
        "q14_productos_mas_comprados": """
            WITH a AS (SELECT MAX(CAST(l_shipdate AS DATE)) AS hoy FROM lineitem)
            SELECT p_name,
                   ROUND(SUM(l_quantity), 2) AS cantidad_total,
                   COUNT(*) AS veces_comprado
            FROM lineitem, a
            JOIN part ON l_partkey = p_partkey
            WHERE CAST(l_shipdate AS DATE) >= a.hoy - INTERVAL 30 DAY
            GROUP BY p_name
            ORDER BY cantidad_total DESC, p_name
            LIMIT 10
        """,
        "ann_cosine_topk": """
            WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
            SELECT e.vec_id,
                   ROUND(
                     list_sum(list_transform(list_zip(e.embedding, q.qe),
                                             x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                     / (sqrt(list_sum(list_transform(e.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
                        * sqrt(list_sum(list_transform(q.qe, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))),
                   4) AS cos_sim
            FROM embeddings e, q
            WHERE e.vec_id <> 0
            ORDER BY cos_sim DESC, e.vec_id
            LIMIT 10
        """,
        "dedup_embedding_lsh": f"""
            WITH bands AS (
              {" UNION ALL ".join(
                f'''SELECT vec_id, {j} AS band,
                     {" + ".join(f"(CASE WHEN embedding[{j * 8 + i + 1}] > 0 THEN {1 << i} ELSE 0 END)" for i in range(8))} AS key
                   FROM embeddings WHERE len(embedding) >= {8 * (j + 1)}'''
                for j in range(4)
              )}
            ), cand AS (
              SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
            )
            SELECT id1, id2,
                   ROUND(
                     list_sum(list_transform(list_zip(ea.embedding, eb.embedding),
                                             x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                     / (sqrt(list_sum(list_transform(ea.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
                        * sqrt(list_sum(list_transform(eb.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))),
                   4) AS cos_sim
            FROM cand JOIN embeddings ea ON id1 = ea.vec_id
                      JOIN embeddings eb ON id2 = eb.vec_id
            WHERE ROUND(
                    list_sum(list_transform(list_zip(ea.embedding, eb.embedding),
                                            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                    / (sqrt(list_sum(list_transform(ea.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
                       * sqrt(list_sum(list_transform(eb.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))),
                  4) >= 0.2
            ORDER BY id1, id2
        """,
        "q15_datos_basicos": """
            WITH resumen AS (
              SELECT 'resumen_facturas' AS seccion, o_orderkey AS item_id,
                     ROUND(o_totalprice, 2) AS importe
              FROM orders ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 5
            ), top_prod AS (
              SELECT 'top_productos', l_partkey, ROUND(l_extendedprice, 2)
              FROM lineitem ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 5
            ), top_prov AS (
              SELECT 'top_proveedores', o_custkey, ROUND(o_totalprice, 2)
              FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 5
            )
            SELECT * FROM (
              SELECT * FROM resumen
              UNION ALL SELECT * FROM top_prod
              UNION ALL SELECT * FROM top_prov
            ) ORDER BY seccion, importe DESC, item_id
        """,
        "q15_semantic_ranked": """
            WITH ranked AS (
              SELECT vec_id, embedding, 50 - vec_id % 50 AS frecuencia_uso
              FROM embeddings
              ORDER BY frecuencia_uso DESC, vec_id
              LIMIT 20
            ), q AS (
              SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
            )
            SELECT vec_id, frecuencia_uso,
                   ROUND(GREATEST(0.0,
                     list_sum(list_transform(list_zip(r.embedding, q.qe),
                                              x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                     / (sqrt(list_sum(list_transform(r.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
                        * sqrt(list_sum(list_transform(q.qe, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))))),
                   4) AS similitud
            FROM ranked r, q
            WHERE ROUND(GREATEST(0.0,
                     list_sum(list_transform(list_zip(r.embedding, q.qe),
                                              x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                     / (sqrt(list_sum(list_transform(r.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
                        * sqrt(list_sum(list_transform(q.qe, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))))),
                   4) > 0.7
            ORDER BY similitud DESC, vec_id
        """,
        "esc_food_cost_platos": """
            WITH base AS (
              SELECT 'PLATO-' || o_orderkey AS plato,
                     CASE WHEN o_orderkey % 10 <> 0
                          THEN FLOOR((o_totalprice / 100) * 100 + 0.5) / 100 END AS pvp_bruto,
                     ((2 * SUM(CAST(l_extendedprice * 100 AS BIGINT) * (100 - CAST(l_discount * 100 AS BIGINT)))
                         * (1 + o_orderkey % 6) + 1000) // 2000) / 100.0 AS food_cost_total
              FROM orders JOIN lineitem ON l_orderkey = o_orderkey
              GROUP BY o_orderkey, o_totalprice
            )
            SELECT plato,
                   pvp_bruto,
                   FLOOR((pvp_bruto / 1.1) * 100 + 0.5) / 100 AS pvp_neto,
                   food_cost_total,
                   FLOOR((food_cost_total / (pvp_bruto / 1.1) * 100) * 100 + 0.5) / 100 AS food_cost_pct,
                   FLOOR((pvp_bruto / 1.1 - food_cost_total) * 100 + 0.5) / 100 AS margen_neto,
                   CASE WHEN pvp_bruto IS NULL THEN 'sin_precio'
                        WHEN food_cost_total / (pvp_bruto / 1.1) * 100 < 25 THEN 'muy_rentable'
                        WHEN food_cost_total / (pvp_bruto / 1.1) * 100 < 35 THEN 'rentable'
                        WHEN food_cost_total / (pvp_bruto / 1.1) * 100 < 45 THEN 'limite'
                        ELSE 'poco_rentable' END AS rentabilidad,
                   CASE WHEN food_cost_total > 0
                        THEN FLOOR((food_cost_total / 0.30 * 1.10) * 100 + 0.5) / 100 ELSE 0 END AS pvp_sugerido_30,
                   CASE WHEN food_cost_total > 0
                        THEN FLOOR((food_cost_total / 0.35 * 1.10) * 100 + 0.5) / 100 ELSE 0 END AS pvp_sugerido_35
            FROM base ORDER BY plato
        """,
        "esc_resumen_global": """
            WITH base AS (
              SELECT CASE WHEN o_orderkey % 10 <> 0
                          THEN FLOOR((o_totalprice / 100) * 100 + 0.5) / 100 END AS pvp_bruto,
                     ((2 * SUM(CAST(l_extendedprice * 100 AS BIGINT) * (100 - CAST(l_discount * 100 AS BIGINT)))
                         * (1 + o_orderkey % 6) + 1000) // 2000) / 100.0 AS food_cost_total
              FROM orders JOIN lineitem ON l_orderkey = o_orderkey
              GROUP BY o_orderkey, o_totalprice
            ), p AS (
              SELECT pvp_bruto, food_cost_total,
                     food_cost_total / (pvp_bruto / 1.1) * 100 AS pct,
                     CAST(food_cost_total * 100 AS BIGINT) AS fc,
                     CAST(pvp_bruto * 100 AS BIGINT) AS pvpc
              FROM base
            ), p6 AS (
              -- per-row 1e-6 fixed-point pct (integer half-up), summation
              -- then order-independent
              SELECT *,
                     CASE WHEN pct IS NOT NULL AND pct <> 0
                          THEN (2 * fc * 110 * 1000000 + pvpc) // (2 * pvpc) END AS pct6
              FROM p
            )
            SELECT COUNT(*) AS platos_analizados,
                   CAST(SUM(CASE WHEN pvp_bruto IS NOT NULL AND pvp_bruto > 0 THEN 1 ELSE 0 END) AS BIGINT) AS platos_con_pvp,
                   CAST(SUM(CASE WHEN pct IS NOT NULL AND pct <> 0 AND pct < 40 THEN 1 ELSE 0 END) AS BIGINT) AS rentables,
                   CAST(SUM(CASE WHEN pct IS NOT NULL AND pct <> 0 AND pct >= 40 AND pct < 50 THEN 1 ELSE 0 END) AS BIGINT) AS en_limite,
                   CAST(SUM(CASE WHEN pct IS NOT NULL AND pct <> 0 AND pct >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS poco_rentables,
                   CAST(SUM(CASE WHEN pvp_bruto IS NULL OR pvp_bruto <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS sin_precio,
                   CAST(SUM(fc) AS BIGINT) / 100.0 AS costo_total_ingredientes,
                   ((2 * SUM(pct6) + COUNT(pct6) * 10000)
                    // (2 * COUNT(pct6) * 10000)) / 100.0 AS food_cost_promedio
            FROM p6
        """,
        "esc_ingredientes_stats": """
            WITH ing AS (
              SELECT l_orderkey, l_linenumber,
                     lower(p_name) || '_' || CAST(l_quantity AS VARCHAR) AS _key,
                     (l_partkey % 5 <> 0) AS _found,
                     (l_linenumber % 4 = 0) AS _aprendido,
                     ROW_NUMBER() OVER (PARTITION BY l_orderkey,
                                        lower(p_name) || '_' || CAST(l_quantity AS VARCHAR)
                                        ORDER BY l_linenumber) AS _rn
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE l_orderkey <= 2000
            )
            SELECT l_orderkey AS plato_id,
                   COUNT(*) AS total,
                   CAST(SUM(CASE WHEN _found THEN 1 ELSE 0 END) AS BIGINT) AS encontrados,
                   CAST(SUM(CASE WHEN _found AND _aprendido THEN 1 ELSE 0 END) AS BIGINT) AS ia_aprendida,
                   CAST(SUM(CASE WHEN _found AND NOT _aprendido THEN 1 ELSE 0 END) AS BIGINT) AS semantica,
                   CAST(SUM(CASE WHEN NOT _found THEN 1 ELSE 0 END) AS BIGINT) AS no_encontrados,
                   CAST(FLOOR(SUM(CASE WHEN _found THEN 1 ELSE 0 END) * 100.0 / COUNT(*) + 0.5) AS BIGINT) AS success_rate
            FROM ing WHERE _rn = 1
            GROUP BY l_orderkey ORDER BY plato_id
        """,
        "v_ventas_diarias": """
            SELECT CAST(o_orderdate AS DATE) AS fecha,
                   COUNT(*) AS total_tickets,
                   CAST(SUM(CAST(o_totalprice * 100 AS BIGINT)) AS BIGINT) / 100.0 AS total_ventas,
                   ((2 * SUM(CAST(o_totalprice * 100 AS BIGINT)) + COUNT(*))
                    // (2 * COUNT(*))) / 100.0 AS ticket_promedio,
                   CAST(SUM(o_custkey % 8 + 1) AS BIGINT) AS total_comensales
            FROM orders WHERE o_orderstatus = 'F'
            GROUP BY 1 ORDER BY fecha DESC
        """,
        "v_productos_top": """
            SELECT p_partkey, p_name, p_type,
                   FLOOR((SUM(l_quantity)) * 100 + 0.5) / 100 AS cantidad_total,
                   CAST(SUM(CAST(l_extendedprice * 100 AS BIGINT)) AS BIGINT) / 100.0 AS importe_total,
                   COUNT(DISTINCT l_orderkey) AS veces_vendido
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey AND o_orderstatus = 'F'
            JOIN part ON l_partkey = p_partkey
            GROUP BY p_partkey, p_name, p_type
            ORDER BY importe_total DESC, p_partkey
            LIMIT 100
        """,
        "numier_upsert_ventas": """
            WITH existing AS (
              SELECT o_custkey % 100 AS restaurante_id,
                     'numier' AS sistema_origen,
                     'NUM-' || o_orderkey AS id_externo,
                     FLOOR((o_totalprice) * 100 + 0.5) / 100 AS total_bruto,
                     1 AS _batch
              FROM orders
            ), incoming AS (
              SELECT o_custkey % 100, 'numier', 'NUM-' || o_orderkey,
                     FLOOR((o_totalprice * 1.1) * 100 + 0.5) / 100, 2
              FROM orders WHERE o_orderkey % 3 = 0
            ), merged AS (
              SELECT * FROM existing UNION ALL SELECT * FROM incoming
            )
            SELECT restaurante_id, sistema_origen, id_externo, total_bruto
            FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY restaurante_id, sistema_origen, id_externo
                                           ORDER BY _batch DESC) AS _rn
              FROM merged
            ) WHERE _rn = 1 ORDER BY id_externo
        """,
        "cotejo_decisiones": """
            WITH enlaces AS (
              SELECT o_orderkey AS enlace_id, o_custkey,
                     'sugerido' AS estado,
                     NULL::VARCHAR AS usuario_validacion,
                     NULL::TIMESTAMP AS fecha_validacion,
                     'Detectado automáticamente' AS observaciones
              FROM orders WHERE o_orderkey <= 4000
            ), d AS (
              SELECT o_orderkey AS enlace_id,
                     CASE WHEN o_orderkey % 4 = 0 THEN 'confirmar' ELSE 'rechazar' END AS accion,
                     'u1' AS usuario_id,
                     CASE WHEN o_orderkey % 4 = 0 AND o_custkey % 2 = 0 THEN 'visto bueno' END AS obs,
                     CASE WHEN o_orderkey % 4 = 1 AND o_custkey % 2 = 0 THEN 'importe no coincide' END AS razon
              FROM orders WHERE o_orderkey <= 4000 AND o_orderkey % 4 <= 1
            )
            SELECT e.enlace_id,
                   CASE WHEN d.accion = 'confirmar' THEN 'confirmado'
                        WHEN d.accion = 'rechazar' THEN 'rechazado'
                        ELSE e.estado END AS estado,
                   CASE WHEN d.accion IN ('confirmar','rechazar') THEN d.usuario_id
                        ELSE e.usuario_validacion END AS usuario_validacion,
                   CASE WHEN d.accion IN ('confirmar','rechazar') THEN TIMESTAMP '2025-01-01 00:00:00'
                        ELSE e.fecha_validacion END AS fecha_validacion,
                   CASE WHEN d.accion = 'confirmar' THEN COALESCE(d.obs, 'Confirmado por usuario')
                        WHEN d.accion = 'rechazar' THEN 'Rechazado: ' || COALESCE(d.razon, 'Sin razón especificada')
                        ELSE e.observaciones END AS observaciones
            FROM enlaces e LEFT JOIN d ON e.enlace_id = d.enlace_id
            ORDER BY e.enlace_id
        """,
        "whatsapp_routing": """
            WITH ev AS (
              SELECT event_id, user_id FROM events WHERE event_id < 3000
            ), msgs AS (
              SELECT event_id AS msg_id,
                     CASE WHEN event_id % 4 = 0 THEN '34' || CAST(600000000 + user_id % 1000 AS VARCHAR)
                          WHEN event_id % 4 = 1 THEN '+34 ' || CAST(600000000 + user_id % 1000 AS VARCHAR)
                          WHEN event_id % 4 = 2 THEN CAST(600000000 + user_id % 1000 AS VARCHAR)
                          ELSE '34-' || CAST(600000000 + user_id % 1000 AS VARCHAR)
                     END AS telefono,
                     'm' || CAST(event_id % 2500 AS VARCHAR) AS media_id
              FROM ev
            ), vinc AS (
              SELECT CASE WHEN k % 3 = 0 THEN CAST(600000000 + k AS VARCHAR)
                          WHEN k % 3 = 1 THEN '+34' || CAST(600000000 + k AS VARCHAR)
                          ELSE '34' || CAST(600000000 + k AS VARCHAR)
                     END AS telefono,
                     k % 50 AS restaurante_id,
                     (k % 5 <> 0) AS activo
              FROM (SELECT DISTINCT user_id % 1000 AS k FROM ev)
            ), vars AS (
              SELECT msg_id, telefono, media_id,
                     regexp_replace(telefono, '[\\s\\-()]', '', 'g') AS limpio
              FROM msgs
            ), v4 AS (
              SELECT msg_id, telefono, media_id,
                     [limpio,
                      '+' || limpio,
                      CASE WHEN limpio LIKE '34%' THEN substring(limpio, 3) ELSE limpio END,
                      '+34' || CASE WHEN limpio LIKE '34%' THEN substring(limpio, 3) ELSE limpio END
                     ] AS vlist
              FROM vars
            ), exploded AS (
              SELECT msg_id, telefono, media_id, r.idx, vlist[r.idx] AS v
              FROM v4, range(1, 5) r(idx)
            ), per_variation AS (
              -- .single() semantics: a variation matching >1 active row is skipped
              SELECT e.msg_id, e.idx, COUNT(*) AS cnt, MIN(vc.restaurante_id) AS restaurante_id
              FROM exploded e JOIN vinc vc ON e.v = vc.telefono AND vc.activo
              GROUP BY e.msg_id, e.idx
            ), best AS (
              SELECT msg_id, restaurante_id FROM (
                SELECT msg_id, restaurante_id,
                       ROW_NUMBER() OVER (PARTITION BY msg_id ORDER BY idx) AS rn
                FROM per_variation WHERE cnt = 1
              ) WHERE rn = 1
            ), routed AS (
              SELECT m.msg_id, m.telefono, m.media_id, b.restaurante_id,
                     CASE WHEN b.restaurante_id IS NOT NULL
                          THEN ROW_NUMBER() OVER (PARTITION BY b.restaurante_id, m.media_id
                                                  ORDER BY m.msg_id) END AS dup_rn
              FROM msgs m LEFT JOIN best b ON m.msg_id = b.msg_id
            )
            SELECT msg_id, telefono, media_id, restaurante_id,
                   CASE WHEN restaurante_id IS NULL THEN 'no_vinculado'
                        WHEN dup_rn > 1 THEN 'duplicado'
                        ELSE 'aceptado' END AS estado
            FROM routed ORDER BY msg_id
        """,
        "mailgun_routing": """
            WITH ev AS (
              SELECT event_id, user_id FROM events WHERE event_id < 2000
            ), emails AS (
              SELECT event_id AS msg_id,
                     CASE WHEN event_id % 5 = 0 THEN 'facturas.rest' || CAST(user_id % 50 AS VARCHAR) || '@facturas-restaurantes.brainstormersagency.com'
                          WHEN event_id % 5 = 1 THEN 'nodots@facturas-restaurantes.brainstormersagency.com'
                          WHEN event_id % 5 = 2 THEN 'facturas.zz' || CAST(user_id % 50 AS VARCHAR) || '@facturas-restaurantes.brainstormersagency.com'
                          WHEN event_id % 5 = 3 THEN 'someone.rest1@gmail.com'
                          ELSE 'facturas.rest' || CAST(user_id % 50 AS VARCHAR) || '@facturas-restaurantes.brainstormersagency.com'
                     END AS recipient,
                     CASE WHEN event_id % 5 = 4 THEN 0
                          ELSE CAST(event_id % 3 + 1 AS INT) END AS n_attachments
              FROM ev
            ), restaurantes AS (
              SELECT 'rest' || CAST(k AS VARCHAR) AS unique_id, k AS restaurante_id
              FROM (SELECT DISTINCT user_id % 50 AS k FROM ev)
            ), parsed AS (
              SELECT e.*,
                     contains(recipient, '@facturas-restaurantes.brainstormersagency.com') AS _dom,
                     len(string_split(string_split(recipient, '@')[1], '.')) >= 2 AS _fmt,
                     list_extract(string_split(string_split(recipient, '@')[1], '.'), -1) AS _uid
              FROM emails e
            )
            SELECT p.msg_id, p.recipient, p.n_attachments,
                   CASE WHEN p._dom AND p._fmt THEN r.restaurante_id END AS restaurante_id,
                   CASE WHEN NOT p._dom THEN 'destinatario_invalido'
                        WHEN NOT p._fmt THEN 'formato_invalido'
                        WHEN r.restaurante_id IS NULL THEN 'restaurante_no_encontrado'
                        WHEN p.n_attachments = 0 THEN 'sin_adjuntos'
                        ELSE 'aceptado' END AS estado
            FROM parsed p LEFT JOIN restaurantes r ON p._uid = r.unique_id
            ORDER BY p.msg_id
        """,
        "numier_dashboard_resumen": """
            WITH s AS (
              SELECT
                SUM(CASE WHEN o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-07-01'
                         THEN CAST(o_totalprice * 100 AS BIGINT) ELSE 0 END) AS c1,
                CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-07-01' THEN o_orderkey % 5 ELSE 0 END) AS BIGINT) AS total_descuentos,
                CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-07-01' THEN o_custkey % 7 ELSE 0 END) AS BIGINT) AS total_propinas,
                CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-07-01' THEN o_custkey % 8 + 1 ELSE 0 END) AS BIGINT) AS total_comensales,
                CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-07-01' THEN 1 ELSE 0 END) AS BIGINT) AS total_tickets,
                SUM(CASE WHEN o_orderdate >= TIMESTAMP '1994-07-01' AND o_orderdate < TIMESTAMP '1995-01-01'
                         THEN CAST(o_totalprice * 100 AS BIGINT) ELSE 0 END) AS c2
              FROM orders
            )
            SELECT CAST(c1 AS BIGINT) / 100.0 AS total_ventas_bruto,
                   ((200 * c1 + 110) // 220) / 100.0 AS total_ventas_neto,
                   ((200 * c1 + 1100) // 2200) / 100.0 AS total_impuestos,
                   total_descuentos, total_propinas, total_comensales, total_tickets,
                   ((200 * c2 + 110) // 220) / 100.0 AS total_ventas_anterior
            FROM s
        """,
        "numier_upsert_catalogo": """
            WITH existing AS (
              SELECT p_partkey % 40 AS restaurante_id,
                     'numier' AS sistema_origen,
                     'PRD-' || p_partkey AS producto_id_externo,
                     p_name AS nombre,
                     p_type AS categoria_nombre,
                     FLOOR((p_retailprice) * 100 + 0.5) / 100 AS precio_base,
                     TRUE AS activo,
                     1 AS _batch
              FROM part
            ), incoming AS (
              SELECT p_partkey % 40, 'numier', 'PRD-' || p_partkey,
                     p_name, p_type,
                     FLOOR((p_retailprice * 0.95) * 100 + 0.5) / 100,
                     (p_partkey % 8 = 0), 2
              FROM part WHERE p_partkey % 4 = 0
            ), merged AS (
              SELECT * FROM existing UNION ALL SELECT * FROM incoming
            )
            SELECT restaurante_id, sistema_origen, producto_id_externo,
                   nombre, categoria_nombre, precio_base, activo
            FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY restaurante_id, sistema_origen, producto_id_externo
                                           ORDER BY _batch DESC) AS _rn
              FROM merged
            ) WHERE _rn = 1 ORDER BY producto_id_externo
        """,
        "cola_procesamiento": """
            WITH q AS (
              SELECT o_orderkey AS documento_id,
                     o_custkey % 50 AS restaurante_id,
                     CAST(o_orderkey % 5 + 1 AS INT) AS prioridad,
                     'pendiente' AS estado,
                     CAST(o_custkey % 3 AS INT) AS intentos,
                     CAST(3 AS INT) AS max_intentos,
                     CAST(o_orderdate AS DATE) AS fecha_programada,
                     NULL::VARCHAR AS ultimo_error
              FROM orders WHERE o_orderkey <= 6000
            ), batch AS (
              SELECT * FROM q
              WHERE estado = 'pendiente' AND intentos < max_intentos
              ORDER BY prioridad, fecha_programada, documento_id
              LIMIT 500
            ), res AS (
              SELECT documento_id, documento_id % 4 <> 0 AS exito,
                     CASE WHEN documento_id % 4 = 0 THEN 'OCR_TIMEOUT' END AS error
              FROM batch
            )
            SELECT b.documento_id, b.restaurante_id, b.prioridad,
                   b.fecha_programada, b.max_intentos,
                   CASE WHEN r.exito THEN 'completado'
                        WHEN NOT r.exito AND b.intentos + 1 >= b.max_intentos THEN 'error'
                        WHEN NOT r.exito THEN 'pendiente'
                        ELSE b.estado END AS estado,
                   CASE WHEN NOT r.exito THEN b.intentos + 1 ELSE b.intentos END AS intentos,
                   CASE WHEN NOT r.exito THEN r.error ELSE b.ultimo_error END AS ultimo_error
            FROM batch b LEFT JOIN res r USING (documento_id)
            ORDER BY b.documento_id
        """,
        "cotejo_consolidation": """
            WITH cand AS (
              SELECT 'F' || CAST(o_orderkey % 800 AS VARCHAR) AS factura_id,
                     'A' || CAST(o_orderkey % 800 % 400 AS VARCHAR) AS albaran_id,
                     ((o_orderkey % 800 + o_orderkey % 3) % 101) / CAST(100 AS DOUBLE) AS score,
                     (['referencia_explicita','proximidad_temporal','productos_compartidos',
                       'patron_aprendido','ultima_oportunidad'])[CAST(o_orderkey % 5 AS INT) + 1] AS metodo,
                     CAST(o_orderkey % 5 + 1 AS INT) AS metodo_prio
              FROM orders WHERE o_orderkey <= 4000
            ), best AS (
              SELECT factura_id, albaran_id, score, metodo FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY factura_id, albaran_id
                                             ORDER BY score DESC, metodo_prio ASC) AS rn
                FROM cand
              ) WHERE rn = 1
            ), docs AS (
              SELECT DISTINCT factura_id,
                     CAST(substring(factura_id, 2) AS INT) % 3 <> 0 AS has_p
              FROM cand
            ), adj AS (
              SELECT b.factura_id, b.albaran_id, b.metodo,
                     CASE WHEN d.has_p THEN LEAST(CAST(1.0 AS DOUBLE), b.score + CAST(0.02 AS DOUBLE))
                          ELSE b.score END AS score
              FROM best b JOIN docs d USING (factura_id)
            )
            SELECT factura_id, albaran_id, score, metodo,
                   CASE WHEN score >= 0.95 THEN 'enlace_automatico'
                        WHEN score >= 0.7 THEN 'sugerencia'
                        ELSE 'revision_manual' END AS categoria_enlace
            FROM adj ORDER BY factura_id, albaran_id
        """,
        "cotejo_scores": """
            WITH c AS (
              SELECT o_orderkey AS factura_id,
                     CAST(o_orderdate AS DATE) AS f_fecha,
                     CASE WHEN o_orderkey % 13 <> 0
                          THEN CAST(o_orderdate AS DATE) - CAST(o_orderkey % 80 AS INT) END AS a_fecha,
                     o_totalprice AS f_total,
                     CASE WHEN o_custkey % 11 = 0 THEN CAST(0.0 AS DOUBLE)
                          ELSE o_totalprice * (1 + (o_custkey % 30 - 10) / CAST(100 AS DOUBLE)) END AS a_total
              FROM orders WHERE o_orderkey <= 5000
            ), s AS (
              SELECT factura_id, f_fecha, a_fecha, f_total, a_total,
                     date_diff('day', a_fecha, f_fecha) AS dias_diferencia,
                     abs(date_diff('day', a_fecha, f_fecha)) AS dias,
                     abs(f_total - a_total) / f_total * 100 AS pct
              FROM c
            )
            SELECT factura_id, dias_diferencia,
                   GREATEST(0.0, LEAST(1.0,
                     CAST(0.85 AS DOUBLE)
                     + (CASE WHEN f_fecha IS NOT NULL AND a_fecha IS NOT NULL THEN
                          CASE WHEN dias <= 7 THEN 0.1 WHEN dias <= 15 THEN 0.05
                               WHEN dias <= 30 THEN 0.02 ELSE -0.1 END
                        ELSE 0.0 END)
                     + (CASE WHEN f_total IS NOT NULL AND f_total <> 0
                              AND a_total IS NOT NULL AND a_total <> 0 THEN
                          CASE WHEN pct <= 5 THEN 0.1 WHEN pct <= 10 THEN 0.05
                               WHEN pct <= 20 THEN 0.02 ELSE -0.15 END
                        ELSE 0.0 END))) AS score_temporal,
                   GREATEST(0.0, LEAST(1.0,
                     CAST(0.4 AS DOUBLE)
                     + (CASE WHEN f_fecha IS NOT NULL AND a_fecha IS NOT NULL THEN
                          CASE WHEN dias <= 30 THEN 0.1 WHEN dias <= 60 THEN 0.05 ELSE -0.1 END
                        ELSE 0.0 END)
                     + (CASE WHEN f_total IS NOT NULL AND f_total <> 0
                              AND a_total IS NOT NULL AND a_total <> 0 THEN
                          CASE WHEN pct <= 10 THEN 0.1 WHEN pct <= 25 THEN 0.05 ELSE -0.15 END
                        ELSE 0.0 END))) AS score_ultima_oportunidad
            FROM s ORDER BY factura_id
        """,
        "cotejo_patron_efectividad": """
            WITH ev AS (
              SELECT o_custkey % 20 AS restaurante_id,
                     ['referencia_albaran','proveedor_fecha_importe','proveedor_productos',
                      'patron_aprendido','ultima_oportunidad'][CAST(o_orderkey % 5 AS INT) + 1] AS metodo_deteccion,
                     CASE WHEN o_orderkey % 3 <> 0 THEN 1 ELSE 0 END AS _conf
              FROM orders WHERE o_orderkey <= 5000
            )
            SELECT restaurante_id, metodo_deteccion,
                   CAST(SUM(_conf) AS BIGINT) AS confirmaciones,
                   CAST(SUM(1 - _conf) AS BIGINT) AS rechazos,
                   COUNT(*) AS total_evaluaciones,
                   FLOOR((SUM(_conf) * 1.0 / COUNT(*)) * 10000 + 0.5) / 10000 AS porcentaje_efectividad
            FROM ev GROUP BY 1, 2 ORDER BY restaurante_id, metodo_deteccion
        """,
    }
