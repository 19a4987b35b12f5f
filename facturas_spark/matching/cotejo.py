"""Invoice <-> delivery-note matching (SURVEY §2.5 M7-M13) as one Spark job.

The reference runs 5 per-invoice search methods with N+1 Postgres queries
(cotejo-inteligente/index.ts:236-242, :1266-1671); here each method is one
declarative join over the whole corpus, unioned, consolidated with a single
aggregation — the scalable shape of the same semantics.

Input contracts (column names):
  facturas:  factura_id, proveedor_nombre, fecha_factura(date),
             total_factura(double), productos(array<string>)
  albaranes: albaran_id, numero_albaran(string), proveedor_nombre,
             fecha_albaran(date), total_albaran(double),
             productos(array<string>)

Scale notes:
- Every method joins on proveedor_nombre equality plus a date-range
  predicate -> sort-merge join keyed on proveedor. Proveedor is the skewed
  key (a hot supplier dominates); AQE skew-join (``get_spark`` turns it on)
  splits oversized partitions inside the join.
- Method 1 (explicit refs) is an equi-join on numero_albaran — if the
  albaran dim is small it broadcasts automatically (autoBroadcastJoinThreshold).
- Consolidation is one groupBy((factura_id, albaran_id)).max_by — the only
  other shuffle.

Score algebra citations:
- M8 temporal score   cotejo-inteligente/index.ts:549-577
- M9 last-chance      cotejo-inteligente/index.ts:646-672
- product score       cotejo-inteligente/index.ts:1501-1549
- consolidation       :1675-1713 (max score per candidate; ties keep the
                      earliest method — replicated via (score, -prio) max_by)
- final adjust        :1715-1744 (+0.02 if invoice has products, cap 1)
- categorization      :1746-1783 (>=0.95 auto, >=0.7 suggestion, else review)
"""

from __future__ import annotations

from datetime import date
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from facturas_spark.matching.similarity import product_overlap_ratio_expr

__all__ = [
    "cotejo_candidates",
    "cotejo_candidates_inverso",
    "categorize",
    "run_cotejo",
    "run_cotejo_inverso",
]


def _clamp01(c):
    return F.greatest(F.lit(0.0), F.least(F.lit(1.0), c))


def _bracket_score(base, day_brackets, pct_brackets, f_fecha, a_fecha, f_total, a_total):
    """``base`` plus a day-gap and an amount-percentage adjustment,
    clamped to [0, 1]. Each bracket table is ((limit, adj), ...) taken in
    order; past its last limit the day gap costs 0.1 and the amount 0.15."""

    def bracket(x, table, past):
        c = F  # F.when opens the CASE, Column.when extends it
        for lim, adj in table:
            c = c.when(x <= lim, adj)
        return c.otherwise(past)

    date_adj = bracket(F.abs(F.datediff(f_fecha, a_fecha)), day_brackets, -0.1)
    amt_adj = bracket(F.abs(f_total - a_total) / f_total * 100, pct_brackets, -0.15)
    # reference guards: adjustments only apply when both values present
    date_adj = F.when(f_fecha.isNotNull() & a_fecha.isNotNull(), date_adj).otherwise(0.0)
    amt_adj = F.when(
        f_total.isNotNull() & (f_total != 0) & a_total.isNotNull() & (a_total != 0),
        amt_adj,
    ).otherwise(0.0)
    return _clamp01(F.lit(base) + date_adj + amt_adj)


# M8 temporal and M9 last-chance scores of (f_fecha, a_fecha, f_total, a_total)
_score_m8 = partial(_bracket_score, 0.85, ((7, 0.1), (15, 0.05), (30, 0.02)),
                    ((5, 0.1), (10, 0.05), (20, 0.02)))
_score_m9 = partial(_bracket_score, 0.4, ((30, 0.1), (60, 0.05)), ((10, 0.1), (25, 0.05)))


_ALB_REF_PATTERNS = [
    r"ALB[-\s]?(\d+)",
    r"ALBARAN[-\s]?(\d+)",
    r"DELIVERY[-\s]?(\d+)",
    r"ENTREGA[-\s]?(\d+)",
]


def cotejo_candidates(
    facturas: DataFrame,
    albaranes: DataFrame,
    as_of: date | None = None,
    patterns_dim: DataFrame | None = None,
) -> DataFrame:
    """Union of the 5 candidate-generation methods.

    ``as_of`` replaces the reference's wall clock for methods 3 and 5
    (60/90-day windows anchored at 'today'); defaults to the max invoice
    date in the corpus — deterministic for a fixed input.
    ``patterns_dim`` (method 4) is optional: columns
    (proveedor_nombre, dias_minimos, dias_maximos, efectividad).
    """
    f = facturas.select(
        "factura_id",
        F.col("proveedor_nombre").alias("f_prov"),
        F.col("fecha_factura"),
        F.col("total_factura"),
        F.col("productos").alias("f_productos"),
    )
    a = albaranes.select(
        "albaran_id",
        "numero_albaran",
        F.col("proveedor_nombre").alias("a_prov"),
        F.col("fecha_albaran"),
        F.col("total_albaran"),
        F.col("productos").alias("a_productos"),
    )

    if as_of is None:
        as_of_col = F.lit(
            facturas.agg(F.max("fecha_factura")).head()[0]
        ).cast("date")
    else:
        as_of_col = F.lit(as_of.isoformat()).cast("date")

    # -- Method 1: explicit ALB-#### references in product lines -> 0.95
    refs = (
        f.select(
            "factura_id",
            F.explode_outer("f_productos").alias("desc"),
        )
        .select(
            "factura_id",
            F.coalesce(
                *[
                    F.nullif(F.regexp_extract(F.upper(F.col("desc")), p, 1), F.lit(""))
                    for p in _ALB_REF_PATTERNS
                ]
            ).alias("ref"),
        )
        .filter(F.col("ref").isNotNull())
        .distinct()
    )
    m1 = (
        refs.join(a, refs.ref == a.numero_albaran)
        .select(
            "factura_id",
            "albaran_id",
            F.lit(0.95).alias("score"),
            F.lit("referencia_explicita").alias("metodo"),
            F.lit(1).alias("metodo_prio"),
        )
    )

    # -- Method 2: temporal proximity (same proveedor, albaran in [f-45d, f])
    m2 = (
        f.join(
            a,
            (f.f_prov == a.a_prov)
            & a.fecha_albaran.between(F.date_sub(f.fecha_factura, 45), f.fecha_factura),
        )
        .select(
            "factura_id",
            "albaran_id",
            _score_m8(
                F.col("fecha_factura"), F.col("fecha_albaran"),
                F.col("total_factura"), F.col("total_albaran"),
            ).alias("score"),
            F.lit("proximidad_temporal").alias("metodo"),
            F.lit(2).alias("metodo_prio"),
        )
        # reference keeps only score > 0.7 STRICT (index.ts:1410)
        .filter(F.col("score") > 0.7)
    )

    # -- Method 3: product-overlap (same proveedor, last 60 days from as_of)
    overlap = product_overlap_ratio_expr(F.col("f_productos"), F.col("a_productos"))
    score3 = F.when(
        F.size("a_productos") == 0, F.lit(0.75 * 0.5)
    ).otherwise(_clamp01(F.lit(0.75) * (F.lit(0.3) + overlap * 0.7)))
    m3 = (
        f.filter(F.size("f_productos") > 0)
        .join(
            a,
            (f.f_prov == a.a_prov)
            & (a.fecha_albaran >= F.date_sub(as_of_col, 60)),
        )
        .select(
            "factura_id",
            "albaran_id",
            score3.alias("score"),
            F.lit("analisis_productos").alias("metodo"),
            F.lit(3).alias("metodo_prio"),
        )
        .filter(F.col("score") > 0.6)
    )

    # -- Method 4: learned temporal patterns dim -> 0.6 * efectividad
    # (cotejo-inteligente/index.ts:1552-1601 + buscarAlbaranesPorPatron
    # :610-640, exact: only patterns with efectividad > 0.7 STRICT are
    # used; the window is [fecha_factura - (dias_maximos||30),
    # fecha_factura] — the reference computes diasMinimos but never uses
    # it in the query (faithful dead variable; the dim keeps the column
    # for schema parity); ||30 is JS-falsy, so 0 and NULL both default)
    if patterns_dim is not None:
        p = patterns_dim.filter(F.col("efectividad") > 0.7).select(
            F.col("proveedor_nombre").alias("p_prov"),
            F.coalesce(
                F.when(F.col("dias_maximos") != 0, F.col("dias_maximos")),
                F.lit(30),
            ).alias("_dias_max"),
            "efectividad",
        )
        m4 = (
            f.join(F.broadcast(p), f.f_prov == p.p_prov)
            .join(
                a,
                (f.f_prov == a.a_prov)
                & a.fecha_albaran.between(
                    F.expr("date_sub(fecha_factura, _dias_max)"),
                    F.col("fecha_factura"),
                ),
            )
            .select(
                "factura_id",
                "albaran_id",
                _clamp01(F.lit(0.6) * F.col("efectividad")).alias("score"),
                F.lit("patron_temporal").alias("metodo"),
                F.lit(4).alias("metodo_prio"),
            )
        )
    else:
        m4 = None

    # -- Method 5: last chance over 90-day window, top-10 per factura by date
    cand5 = f.join(
        a,
        (f.f_prov == a.a_prov) & (a.fecha_albaran >= F.date_sub(as_of_col, 90)),
    )
    w10 = Window.partitionBy("factura_id").orderBy(
        F.col("fecha_albaran").desc(), F.col("albaran_id")
    )
    m5 = (
        cand5.withColumn("_rn", F.row_number().over(w10))
        .filter(F.col("_rn") <= 10)  # reference's .limit(10) work cap
        .select(
            "factura_id",
            "albaran_id",
            _score_m9(
                F.col("fecha_factura"), F.col("fecha_albaran"),
                F.col("total_factura"), F.col("total_albaran"),
            ).alias("score"),
            F.lit("ultima_oportunidad").alias("metodo"),
            F.lit(5).alias("metodo_prio"),
        )
        # reference keeps only score > 0.3 STRICT (index.ts:1642)
        .filter(F.col("score") > 0.3)
    )

    parts = [m1, m2, m3, m5] if m4 is None else [m1, m2, m3, m4, m5]
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out


def consolidate(
    candidates: DataFrame, docs: DataFrame, bonus_key: str = "factura_id"
) -> DataFrame:
    """M10-M11: keep max-score candidate per (factura, albaran) — ties keep
    the earliest method (JS Map only replaces on strictly-greater) — then
    +0.02 bonus if the anchoring document has products, capped at 1.

    ``bonus_key`` selects which side anchors the bonus: the invoice in the
    forward direction (calcularScoresFinal, index.ts:1727) and the albarán
    in the inverse one (calcularScoresFinalInverso, :2152)."""
    best = candidates.groupBy("factura_id", "albaran_id").agg(
        F.max_by(
            F.struct("score", "metodo", "metodo_prio"),
            F.struct(F.col("score"), (-F.col("metodo_prio")).alias("p")),
        ).alias("_b")
    ).select(
        "factura_id",
        "albaran_id",
        F.col("_b.score").alias("score"),
        F.col("_b.metodo").alias("metodo"),
    )
    has_prods = docs.select(
        bonus_key, (F.size("productos") > 0).alias("_has_p")
    )
    return (
        best.join(F.broadcast(has_prods), bonus_key, "left")
        .withColumn(
            "score",
            F.when(F.col("_has_p"), F.least(F.lit(1.0), F.col("score") + 0.02))
            .otherwise(F.col("score")),
        )
        .drop("_has_p")
    )


def categorize(consolidated: DataFrame) -> DataFrame:
    """M12: >=0.95 auto-link, >=0.7 suggestion, else manual review."""
    return consolidated.withColumn(
        "categoria_enlace",
        F.when(F.col("score") >= 0.95, "enlace_automatico")
        .when(F.col("score") >= 0.7, "sugerencia")
        .otherwise("revision_manual"),
    )


def run_cotejo(
    facturas: DataFrame,
    albaranes: DataFrame,
    as_of: date | None = None,
    patterns_dim: DataFrame | None = None,
) -> DataFrame:
    """Full pipeline: candidates -> consolidate -> categorize."""
    cands = cotejo_candidates(facturas, albaranes, as_of, patterns_dim)
    return categorize(consolidate(cands, facturas))


_FAC_REF_PATTERNS = [
    r"FAC[-\s]?(\d+)",
    r"FACTURA[-\s]?(\d+)",
    r"INVOICE[-\s]?(\d+)",
]


def cotejo_candidates_inverso(
    albaranes: DataFrame,
    facturas: DataFrame,
    as_of: date | None = None,
) -> DataFrame:
    """M13 — the albarán→factura direction. NOT a mirror of the forward
    pass: every method has its own window/filter in the reference
    (cotejo-inteligente/index.ts:318-322 dispatch, :704-1092 bodies):

    1. referencia_explicita_inverso (:704-750): FAC/FACTURA/INVOICE number
       patterns inside albarán product lines, joined on numero_factura,
       score 0.95.
    2. proximidad_temporal_inverso (:766-860): facturas in
       [fecha_albaran, fecha_albaran + 45] (FORWARD-looking window — the
       invoice arrives after the delivery note), same 0.85-base score
       table (pct still divides by total_factura, :1171), keep > 0.7
       STRICT.
    3. analisis_productos_inverso (:869-942): facturas with
       fecha_factura <= as_of + 60 — NO lower bound (faithful quirk);
       overlap ratio over the ALBARÁN's products (:1206-1216, reversed
       denominator vs forward); facturas without products would score
       0.75*0.5 (:1199) but the > 0.6 STRICT filter (:910) removes them.
    4. patrones_temporales_inverso (:943-1017): no learned dim — a fixed
       [fecha_albaran, fecha_albaran + 30] window; score = 0.5 + date
       bonus (<=7: +0.3, <=15: +0.2, <=30: +0.1, no penalty else,
       :2577-2607); the amount factor reads ``importe_total`` which does
       not exist on the extraction tables (dead branch — omitted); keep
       > 0.6 STRICT, so only <=15-day pairs survive.
    5. ultima_oportunidad_inverso (:1019-1090): facturas >= as_of - 90,
       latest 20 per albarán (vs 10 forward); the reference scores
       0.5 + random()*0.2 — non-determinism the north rule excises; we
       pin the distribution midpoint 0.6 (documented deviation); no
       score filter.
    """
    if as_of is None:
        as_of = albaranes.agg(F.max("fecha_albaran")).first()[0]
        if hasattr(as_of, "date"):
            as_of = as_of.date()
    as_of_col = F.lit(as_of)

    a = albaranes.select(
        "albaran_id",
        F.col("proveedor_nombre").alias("a_prov"),
        "fecha_albaran",
        "total_albaran",
        F.col("productos").alias("a_productos"),
    )
    f = facturas.select(
        "factura_id",
        F.col("proveedor_nombre").alias("f_prov"),
        "fecha_factura",
        "total_factura",
        "numero_factura",
        F.col("productos").alias("f_productos"),
    )

    # -- M1 inverse: FAC-number references inside albarán product lines
    refs = (
        a.select(
            "albaran_id", F.explode("a_productos").alias("_desc")
        )
        .select(
            "albaran_id",
            F.explode(
                F.array(
                    *[
                        F.regexp_extract(F.col("_desc"), f"(?i){p}", 1)
                        for p in _FAC_REF_PATTERNS
                    ]
                )
            ).alias("_num"),
        )
        .filter(F.col("_num") != "")
    )
    m1 = refs.join(f, refs._num == f.numero_factura).select(
        "factura_id",
        "albaran_id",
        F.lit(0.95).alias("score"),
        F.lit("referencia_explicita_inverso").alias("metodo"),
        F.lit(1).alias("metodo_prio"),
    )

    # -- M2 inverse: facturas in [albaran, albaran + 45d], > 0.7 strict
    m2 = (
        a.join(
            f,
            (a.a_prov == f.f_prov)
            & f.fecha_factura.between(
                a.fecha_albaran, F.date_add(a.fecha_albaran, 45)
            ),
        )
        .select(
            "factura_id",
            "albaran_id",
            _score_m8(
                F.col("fecha_factura"), F.col("fecha_albaran"),
                F.col("total_factura"), F.col("total_albaran"),
            ).alias("score"),
            F.lit("proximidad_temporal_inverso").alias("metodo"),
            F.lit(2).alias("metodo_prio"),
        )
        .filter(F.col("score") > 0.7)
    )

    # -- M3 inverse: overlap over ALBARÁN products, no lower date bound
    overlap = product_overlap_ratio_expr(F.col("a_productos"), F.col("f_productos"))
    score3 = F.when(
        F.size("f_productos") == 0, F.lit(0.75 * 0.5)
    ).otherwise(_clamp01(F.lit(0.75) * (F.lit(0.3) + overlap * 0.7)))
    m3 = (
        a.filter(F.size("a_productos") > 0)
        .join(
            f,
            (a.a_prov == f.f_prov)
            & (f.fecha_factura <= F.date_add(as_of_col, 60)),
        )
        .select(
            "factura_id",
            "albaran_id",
            score3.alias("score"),
            F.lit("analisis_productos_inverso").alias("metodo"),
            F.lit(3).alias("metodo_prio"),
        )
        .filter(F.col("score") > 0.6)
    )

    # -- M4 inverse: fixed 30-day forward window, date-bonus-only score
    dias = F.abs(F.datediff(F.col("fecha_factura"), F.col("fecha_albaran")))
    score4 = F.lit(0.5) + (
        F.when(dias <= 7, 0.3).when(dias <= 15, 0.2).when(dias <= 30, 0.1).otherwise(0.0)
    )
    m4 = (
        a.join(
            f,
            (a.a_prov == f.f_prov)
            & f.fecha_factura.between(
                a.fecha_albaran, F.date_add(a.fecha_albaran, 30)
            ),
        )
        .select(
            "factura_id",
            "albaran_id",
            score4.alias("score"),
            F.lit("patrones_temporales_inverso").alias("metodo"),
            F.lit(4).alias("metodo_prio"),
        )
        .filter(F.col("score") > 0.6)
    )

    # -- M5 inverse: 90d window back from as_of, latest 20, fixed 0.6
    w20 = Window.partitionBy("albaran_id").orderBy(
        F.col("fecha_factura").desc(), F.col("factura_id")
    )
    m5 = (
        a.join(
            f,
            (a.a_prov == f.f_prov)
            & (f.fecha_factura >= F.date_sub(as_of_col, 90)),
        )
        .withColumn("_rn", F.row_number().over(w20))
        .filter(F.col("_rn") <= 20)
        .select(
            "factura_id",
            "albaran_id",
            F.lit(0.6).alias("score"),
            F.lit("ultima_oportunidad_inverso").alias("metodo"),
            F.lit(5).alias("metodo_prio"),
        )
    )

    out = m1
    for part in (m2, m3, m4, m5):
        out = out.unionByName(part)
    return out


def apply_cotejo_decisions(
    enlaces: DataFrame,
    decisions: DataFrame,
    as_of_ts: str = "2025-01-01 00:00:00",
) -> DataFrame:
    """Batch form of the suggestion-management state transitions
    (gestionar-sugerencias-cotejo/index.ts:101-225): a decision row
    (enlace_id, accion, usuario_id, observaciones, razon_rechazo) flips
    the matching enlace to confirmado/rechazado with the reference's
    exact field updates — confirm observaciones default 'Confirmado por
    usuario', reject prefix 'Rechazado: ' + razon or 'Sin razón
    especificada'; undecided enlaces pass through unchanged. The
    reference stamps ``new Date()``; the deterministic ``as_of_ts``
    replaces it (north rule). One broadcast join — decisions are tiny
    relative to the enlaces table."""
    d = decisions.select(
        F.col("enlace_id").alias("_eid"),
        "accion",
        "usuario_id",
        F.col("observaciones").alias("_obs"),
        "razon_rechazo",
    )
    j = enlaces.join(F.broadcast(d), enlaces.enlace_id == d._eid, "left")
    confirmar = F.col("accion") == "confirmar"
    rechazar = F.col("accion") == "rechazar"
    ts = F.lit(as_of_ts).cast("timestamp")
    return j.select(
        *[c for c in enlaces.columns if c not in ("estado", "usuario_validacion",
                                                  "fecha_validacion", "observaciones")],
        F.when(confirmar, F.lit("confirmado"))
        .when(rechazar, F.lit("rechazado"))
        .otherwise(F.col("estado"))
        .alias("estado"),
        F.when(confirmar | rechazar, F.col("usuario_id"))
        .otherwise(F.col("usuario_validacion"))
        .alias("usuario_validacion"),
        F.when(confirmar | rechazar, ts)
        .otherwise(F.col("fecha_validacion"))
        .alias("fecha_validacion"),
        F.when(confirmar, F.coalesce(F.col("_obs"), F.lit("Confirmado por usuario")))
        .when(
            rechazar,
            F.concat(
                F.lit("Rechazado: "),
                F.coalesce(F.col("razon_rechazo"), F.lit("Sin razón especificada")),
            ),
        )
        .otherwise(F.col("observaciones"))
        .alias("observaciones"),
    )


def run_cotejo_inverso(
    albaranes: DataFrame,
    facturas: DataFrame,
    as_of: date | None = None,
) -> DataFrame:
    """Full inverse pipeline; the +0.02 consolidation bonus anchors on the
    ALBARÁN's products (calcularScoresFinalInverso, index.ts:2152)."""
    cands = cotejo_candidates_inverso(albaranes, facturas, as_of)
    return categorize(
        consolidate(
            cands,
            albaranes.select("albaran_id", "productos"),
            bonus_key="albaran_id",
        )
    )
