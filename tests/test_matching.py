"""Matching layer tests: similarity kernels (M3-M6) + cotejo job (M7-M13)."""

from __future__ import annotations

from datetime import date

import pytest
from pyspark.sql import functions as F

from facturas_spark.matching.similarity import (
    comparar_productos_py,
    cosine_py,
    levenshtein_py,
    string_similarity_py,
)


@pytest.mark.parametrize(
    ("a", "b", "d"),
    [
        ("", "", 0),
        ("abc", "", 3),
        ("", "abc", 3),
        ("kitten", "sitting", 3),
        ("pollo", "pollo", 0),
        ("pollo", "polla", 1),
        ("flaw", "lawn", 2),
    ],
)
def test_levenshtein(a, b, d):
    assert levenshtein_py(a, b) == d


def test_string_similarity_rules():
    assert string_similarity_py("pollo entero", "pollo entero") == 1.0
    # containment rule: 0.8 per word
    s = string_similarity_py("pollos", "pollo")
    assert s == pytest.approx(0.8)
    # lev<=2 rule: equal length, neither contains the other -> 0.6
    assert string_similarity_py("merluza", "merlusa") == pytest.approx(0.6)
    assert string_similarity_py("ab cd", "xy zw") == 0.0  # all words len<=2
    assert string_similarity_py("", "pollo") == 0.0


@pytest.mark.parametrize(
    ("d1", "d2", "match"),
    [
        ("Pollo Entero", "pollo entero", True),          # exact after norm
        ("pollo entero fresco", "pollo entero", True),   # 2/3 > 0.6
        ("pollo", "ternera", False),
        ("gambas cocidas 3kg", "gambas cocidas", True),
        ("a b c", "a b c", True),                        # exact short words
        ("uno dos", "tres cuatro", False),
    ],
)
def test_comparar_productos(d1, d2, match):
    assert comparar_productos_py(d1, d2) is match


def test_cosine():
    assert cosine_py([1, 0], [1, 0]) == 1.0
    assert cosine_py([1, 0], [0, 1]) == 0.0
    assert cosine_py([1, 0], [-1, 0]) == 0.0  # clamped
    assert cosine_py([0, 0], [1, 0]) == 0.0


# --- Spark expression parity with the Python kernels -------------------------

def test_comparar_productos_expr_parity(spark):
    from pyspark.sql import functions as F

    from facturas_spark.matching.similarity import comparar_productos_expr

    cases = [
        ("Pollo Entero", "pollo entero"),
        ("pollo entero fresco", "pollo entero"),
        ("pollo", "ternera"),
        ("gambas cocidas 3kg", "gambas cocidas"),
        ("uno dos", "tres cuatro"),
        ("Queso-Curado (oveja)", "queso curado oveja"),
    ]
    df = spark.createDataFrame(cases, "d1 string, d2 string")
    rows = df.select("d1", "d2", comparar_productos_expr(F.col("d1"), F.col("d2")).alias("m")).collect()
    for r in rows:
        assert r.m == comparar_productos_py(r.d1, r.d2), (r.d1, r.d2)


# --- cotejo end-to-end --------------------------------------------------------

def _mk_corpus(spark):
    facturas = spark.createDataFrame(
        [
            ("f1", "DISTRIBUCIONES GARRIDO S.L.", date(2025, 3, 10), 121.0,
             ["Pollo entero fresco 2kg", "ref ALB-777"]),
            ("f2", "CARNICAS DEL SUR S.A.", date(2025, 3, 20), 500.0,
             ["Lomo de cerdo 5kg"]),
            ("f3", "PESCADOS MARISOL S.L.U.", date(2025, 3, 1), 80.0, []),
        ],
        "factura_id string, proveedor_nombre string, fecha_factura date, "
        "total_factura double, productos array<string>",
    )
    albaranes = spark.createDataFrame(
        [
            ("a1", "777", "BODEGAS TORREALTA S.A.", date(2025, 2, 20), 119.0,
             ["Vino tinto"]),                       # matches f1 ONLY via explicit ref
            ("a2", "888", "DISTRIBUCIONES GARRIDO S.L.", date(2025, 3, 8), 120.0,
             ["Pollo entero fresco"]),              # temporal+products match f1
            ("a3", "999", "CARNICAS DEL SUR S.A.", date(2025, 1, 2), 480.0,
             ["Lomo de cerdo"]),                    # outside 45d of f2 (77 days)
            ("a4", "111", "PESCADOS MARISOL S.L.U.", date(2025, 2, 25), 82.0,
             ["Merluza"]),                          # temporal match f3
        ],
        "albaran_id string, numero_albaran string, proveedor_nombre string, "
        "fecha_albaran date, total_albaran double, productos array<string>",
    )
    return facturas, albaranes


def test_score_expressions_unchanged(spark):
    """The M8/M9 scores built by the one bracket helper are the exact
    expressions each score wrote out by hand."""
    from facturas_spark.matching.cotejo import _score_m8, _score_m9

    cols = [F.col(c) for c in "abcd"]
    assert str(_score_m8(*cols)._jc) == (
        'greatest(0.0, least(1.0, +(+(0.85, CASE WHEN and(isNotNull(a), '
        'isNotNull(b)) THEN CASE WHEN <=(abs(datediff(a, b)), 7) THEN 0.1 '
        'WHEN <=(abs(datediff(a, b)), 15) THEN 0.05 WHEN <=(abs(datediff(a,'
        ' b)), 30) THEN 0.02 ELSE -0.1 END ELSE 0.0 END), CASE WHEN '
        'and(and(and(isNotNull(c), !(=(c, 0))), isNotNull(d)), !(=(d, 0))) '
        'THEN CASE WHEN <=(*(/(abs(-(c, d)), c), 100), 5) THEN 0.1 WHEN '
        '<=(*(/(abs(-(c, d)), c), 100), 10) THEN 0.05 WHEN <=(*(/(abs(-(c, '
        'd)), c), 100), 20) THEN 0.02 ELSE -0.15 END ELSE 0.0 END)))'
    )
    assert str(_score_m9(*cols)._jc) == (
        'greatest(0.0, least(1.0, +(+(0.4, CASE WHEN and(isNotNull(a), '
        'isNotNull(b)) THEN CASE WHEN <=(abs(datediff(a, b)), 30) THEN 0.1 '
        'WHEN <=(abs(datediff(a, b)), 60) THEN 0.05 ELSE -0.1 END ELSE 0.0 '
        'END), CASE WHEN and(and(and(isNotNull(c), !(=(c, 0))), '
        'isNotNull(d)), !(=(d, 0))) THEN CASE WHEN <=(*(/(abs(-(c, d)), c),'
        ' 100), 10) THEN 0.1 WHEN <=(*(/(abs(-(c, d)), c), 100), 25) THEN '
        '0.05 ELSE -0.15 END ELSE 0.0 END)))'
    )


def test_cotejo_methods(spark):
    from facturas_spark.matching.cotejo import cotejo_candidates, run_cotejo

    facturas, albaranes = _mk_corpus(spark)
    cands = cotejo_candidates(facturas, albaranes, as_of=date(2025, 3, 20))
    rows = {(r.factura_id, r.albaran_id, r.metodo): r.score for r in cands.collect()}

    # method 1: explicit ALB-777 reference crosses suppliers
    assert rows[("f1", "a1", "referencia_explicita")] == 0.95
    # method 2: f1<->a2 same proveedor, 2 days apart, ~0.8% amount diff
    # score = 0.85 + 0.1 + 0.1 = 1.0 (clamped)
    assert rows[("f1", "a2", "proximidad_temporal")] == pytest.approx(1.0)
    # method 2 must NOT produce f2<->a3 (77 days > 45)
    assert ("f2", "a3", "proximidad_temporal") not in rows
    # method 3: product overlap f1<->a2 ('pollo entero fresco' matches)
    # overlap=0.5 (1 of 2 products) -> 0.75*(0.3+0.35)=0.4875 <= 0.6 -> filtered
    assert ("f1", "a2", "analisis_productos") not in rows
    # method 5 exists for same-proveedor pairs within 90d of as_of
    # m9: base 0.4 + 0.1 (4 days <= 30) + 0.1 (2.5% <= 10%) = 0.6
    assert rows[("f3", "a4", "ultima_oportunidad")] == pytest.approx(0.6)

    final = run_cotejo(facturas, albaranes, as_of=date(2025, 3, 20))
    frows = {(r.factura_id, r.albaran_id): r for r in final.collect()}
    # consolidation keeps max score; f1-a2 got 1.0 from m2 (+0.02 capped)
    assert frows[("f1", "a2")].score == 1.0
    assert frows[("f1", "a2")].categoria_enlace == "enlace_automatico"
    assert frows[("f1", "a1")].metodo == "referencia_explicita"
    # f1 has products -> +0.02 -> 0.97 still auto
    assert frows[("f1", "a1")].score == pytest.approx(0.97)
    # consolidation: f3-a4 max over {m2: 0.85+0.1+0.1 clamped to 1.0, m5: 0.6}
    # -> 1.0 via proximidad_temporal (no product bonus: f3 has none)
    assert frows[("f3", "a4")].score == 1.0
    assert frows[("f3", "a4")].metodo == "proximidad_temporal"
    assert frows[("f3", "a4")].categoria_enlace == "enlace_automatico"


def test_cotejo_patterns_dim(spark):
    from facturas_spark.matching.cotejo import cotejo_candidates

    facturas, albaranes = _mk_corpus(spark)
    patterns = spark.createDataFrame(
        [("CARNICAS DEL SUR S.A.", 30, 90, 0.9)],
        "proveedor_nombre string, dias_minimos int, dias_maximos int, efectividad double",
    )
    cands = cotejo_candidates(
        facturas, albaranes, as_of=date(2025, 3, 20), patterns_dim=patterns
    )
    rows = {(r.factura_id, r.albaran_id, r.metodo): r.score for r in cands.collect()}
    # a3 is 77 days before f2 -> within [fecha-90, fecha] -> 0.6*0.9
    assert rows[("f2", "a3", "patron_temporal")] == pytest.approx(0.54)


def test_cotejo_patterns_dim_faithful_gates(spark):
    """Method-4 quirks (cotejo-inteligente:610-640,1581): dias_minimos is
    a DEAD variable (window upper bound is fecha_factura itself); the
    efectividad gate is STRICTLY > 0.7; dias_maximos 0/NULL -> 30."""
    from facturas_spark.matching.cotejo import cotejo_candidates

    facturas, albaranes = _mk_corpus(spark)
    patterns = spark.createDataFrame(
        [
            # dias_minimos=30 would exclude a2 (2 days before f1) if it
            # were honored — it must match anyway
            ("DISTRIBUCIONES GARRIDO S.L.", 30, 90, 0.8),
            # efectividad exactly 0.7 -> gated out (strict >)
            ("PESCADOS MARISOL S.L.U.", 1, 90, 0.7),
        ],
        "proveedor_nombre string, dias_minimos int, dias_maximos int, efectividad double",
    )
    cands = cotejo_candidates(
        facturas, albaranes, as_of=date(2025, 3, 20), patterns_dim=patterns
    )
    rows = {(r.factura_id, r.albaran_id, r.metodo): r.score for r in cands.collect()}
    assert rows[("f1", "a2", "patron_temporal")] == pytest.approx(0.48)
    assert ("f3", "a4", "patron_temporal") not in rows

    # dias_maximos = 0 -> JS-falsy -> defaults to 30: a4 (4 days) matches
    patterns0 = spark.createDataFrame(
        [("PESCADOS MARISOL S.L.U.", 1, 0, 0.9)],
        "proveedor_nombre string, dias_minimos int, dias_maximos int, efectividad double",
    )
    cands0 = cotejo_candidates(
        facturas, albaranes, as_of=date(2025, 3, 20), patterns_dim=patterns0
    )
    rows0 = {(r.factura_id, r.albaran_id, r.metodo): r.score for r in cands0.collect()}
    assert rows0[("f3", "a4", "patron_temporal")] == pytest.approx(0.54)


def test_inverse_cotejo_m13(spark):
    """M13 faithful: the inverse direction has its OWN windows/filters
    (forward-looking m2/m4 windows, albarán-denominated overlap, fixed
    0.6 last-chance, FAC-number references in albarán lines)."""
    from facturas_spark.matching.cotejo import run_cotejo_inverso

    facturas, albaranes = _mk_corpus(spark)
    facturas = facturas.withColumn(
        "numero_factura",
        F.element_at(
            F.array(F.lit("F100"), F.lit("556"), F.lit("557")),
            (F.substring("factura_id", 2, 1)).cast("int"),
        ),
    )
    # a5 carries an explicit invoice-number reference in a product line
    extra = spark.createDataFrame(
        [("a5", "222", "BODEGAS TORREALTA S.A.", date(2025, 1, 10), 10.0,
          ["ver FACTURA 556"])],
        albaranes.schema,
    )
    inv = run_cotejo_inverso(
        albaranes.unionByName(extra), facturas, as_of=date(2025, 3, 20)
    )
    rows = {(r.factura_id, r.albaran_id): r for r in inv.collect()}

    # m2 inverse: f1 (Mar 10) IS seen from a2 (Mar 8) — the window looks
    # FORWARD [albaran, albaran+45]; 2 days + 0.8% amount -> 1.0, auto
    r = rows[("f1", "a2")]
    assert r.score == pytest.approx(1.0)
    assert r.metodo == "proximidad_temporal_inverso"
    assert r.categoria_enlace == "enlace_automatico"

    # m3 inverse: a3->f2 survives only via product overlap (77 days kills
    # m2/m4): 0.75*(0.3+0.7*1.0)=0.75 + 0.02 albarán-product bonus
    r2 = rows[("f2", "a3")]
    assert r2.score == pytest.approx(0.77)
    assert r2.metodo == "analisis_productos_inverso"

    # m1 inverse: FACTURA 556 inside a5's product line -> f2, 0.95 + 0.02
    r3 = rows[("f2", "a5")]
    assert r3.metodo == "referencia_explicita_inverso"
    assert r3.score == pytest.approx(0.97)


def test_inverse_cotejo_m4_window_and_gate(spark):
    """m4-inverse: fixed 30-day forward window; score 0.5 + date bonus;
    strict > 0.6 keeps only pairs <= 15 days apart."""
    from facturas_spark.matching.cotejo import cotejo_candidates_inverso

    albaranes = spark.createDataFrame(
        [("b1", "1", "PROV X S.L.", date(2025, 1, 1), 100.0, [])],
        "albaran_id string, numero_albaran string, proveedor_nombre string, "
        "fecha_albaran date, total_albaran double, productos array<string>",
    )
    facturas = spark.createDataFrame(
        [
            ("g1", "PROV X S.L.", date(2025, 1, 11), 500.0, "901", []),  # 10d
            ("g2", "PROV X S.L.", date(2025, 1, 21), 500.0, "902", []),  # 20d
            ("g3", "PROV X S.L.", date(2024, 12, 30), 500.0, "903", []),  # before
        ],
        "factura_id string, proveedor_nombre string, fecha_factura date, "
        "total_factura double, numero_factura string, productos array<string>",
    )
    cands = cotejo_candidates_inverso(albaranes, facturas, as_of=date(2025, 1, 21))
    m4 = {
        (r.factura_id, r.albaran_id): r.score
        for r in cands.filter(F.col("metodo") == "patrones_temporales_inverso").collect()
    }
    # 10 days -> 0.5+0.2=0.7 passes; 20 days -> 0.5+0.1=0.6 FAILS strict >;
    # g3 is before the albarán -> outside the forward window
    assert m4 == {("g1", "b1"): pytest.approx(0.7)}


def test_m4_columnar_matches_kernel(spark):
    """m4_similarity_pairs' higher-order-function cascade must equal the
    Python kernel string_similarity_py on every corpus pair (same first-
    matching-word2 + rule-order semantics, two execution forms)."""
    import math

    from pyspark.sql import functions as F

    from facturas_spark.analytics.dedup import m4_similarity_pairs
    from facturas_spark.matching.similarity import (
        norm_desc_expr,
        string_similarity_py,
    )

    sf = "/root/testdata/sf0.001"
    part = (
        spark.read.parquet(f"{sf}/part.parquet")
        .filter(F.col("p_partkey") <= 150)
        .select("p_partkey", norm_desc_expr(F.col("p_name")).alias("n"))
        .collect()
    )
    names = {r["p_partkey"]: r["n"] for r in part}
    got = {
        (r["k1"], r["k2"]): r["similitud"]
        for r in m4_similarity_pairs(spark, sf).collect()
    }
    assert got
    for (k1, k2), sim in got.items():
        exp = string_similarity_py(names[k1], names[k2])
        assert math.floor(exp * 10000 + 0.5) / 10000 == sim, (k1, k2)
