"""Property tests (SURVEY §5.4): reconciliation closure, parser round-trips,
score clamping, price-FSM coherence, hash determinism."""

from __future__ import annotations

from datetime import date

from hypothesis import given, settings
from hypothesis import strategies as st

from facturas_spark.extraction.products import fix_price_calculation
from facturas_spark.extraction.textparse import (
    convert_to_iso_date,
    extract_fields,
    js_round2,
    parse_importe,
    parse_spanish_amount,
)
from facturas_spark.matching.similarity import (
    comparar_productos_py,
    levenshtein_py,
    string_similarity_py,
)

amounts = st.floats(min_value=0.01, max_value=99999.99, allow_nan=False)


@given(amounts)
@settings(max_examples=200)
def test_amount_roundtrip_spanish_format(x):
    """Any 2dp amount rendered in Spanish format parses back exactly."""
    v = js_round2(x)
    rendered = f"{v:.2f}".replace(".", ",")
    assert parse_importe(rendered) == v
    assert parse_spanish_amount(rendered) == v


@given(st.integers(1, 28), st.integers(1, 12), st.integers(1990, 2030))
@settings(max_examples=200)
def test_date_roundtrip(d, m, y):
    assert convert_to_iso_date(f"{d:02d}/{m:02d}/{y}") == date(y, m, d)


@given(
    base=st.floats(min_value=100.0, max_value=800.0, allow_nan=False),
    tipo=st.sampled_from([4, 10, 21]),
)
@settings(max_examples=100)
def test_fiscal_reconciliation_closure(base, tipo):
    """Given only TOTAL and the rate, the derived triple is coherent:
    |total - (base + cuota)| <= 0.01 after rounding."""
    b = js_round2(base)
    total = js_round2(b * (1 + tipo / 100))
    text = (
        f"EMPRESA DEMO GRANDE S.L.\nTOTAL: {f'{total:.2f}'.replace('.', ',')}€\n"
        f"al {tipo} %"
    )
    f = extract_fields(text)
    assert f.tipo_iva == tipo
    assert f.total_factura == total
    assert abs(f.total_factura - (f.base_imponible + f.cuota_iva)) <= 0.011


@given(st.text(max_size=300))
@settings(max_examples=150)
def test_extract_fields_total_function_and_clamped(text):
    """Extraction never raises on arbitrary text; confidences stay in [0,1];
    amounts are non-negative; and it is deterministic."""
    f1 = extract_fields(text)
    f2 = extract_fields(text)
    assert f1 == f2
    for c in (
        f1.confianza_global,
        f1.confianza_proveedor,
        f1.confianza_datos_fiscales,
        f1.confianza_importes,
    ):
        assert 0.0 <= c <= 1.0
    assert f1.total_factura >= 0 and f1.base_imponible >= 0 and f1.cuota_iva >= 0


@given(
    u_con=st.one_of(st.none(), amounts),
    t_sin=st.one_of(st.none(), amounts),
    qty=st.floats(min_value=0.1, max_value=100, allow_nan=False),
    tipo=st.sampled_from([0, 4, 10, 21]),
)
@settings(max_examples=150)
def test_price_fsm_coherence(u_con, t_sin, qty, tipo):
    """Whatever subset is seeded, filled unit/total pairs respect the IVA
    factor within float tolerance."""
    p = fix_price_calculation(
        {
            "precio_unitario_con_iva": u_con,
            "precio_total_linea_sin_iva": t_sin,
            "cantidad": qty,
            "tipo_iva": tipo,
        }
    )
    factor = 1 + (p["tipo_iva"]) / 100
    if p["precio_unitario_sin_iva"] and p["precio_unitario_con_iva"]:
        assert p["precio_unitario_con_iva"] == (
            p["precio_unitario_sin_iva"] * factor
        ) or p["precio_unitario_sin_iva"] == p["precio_unitario_con_iva"] / factor
    if p["precio_total_linea_sin_iva"] and p["precio_unitario_sin_iva"]:
        # total = unit * qty in at least one derivation direction
        assert (
            abs(p["precio_total_linea_sin_iva"] - p["precio_unitario_sin_iva"] * qty)
            < 1e-6 * max(1.0, p["precio_total_linea_sin_iva"])
            or t_sin is not None
        )


@given(st.text(max_size=30), st.text(max_size=30))
@settings(max_examples=200)
def test_levenshtein_metric_properties(a, b):
    d = levenshtein_py(a, b)
    assert d == levenshtein_py(b, a)
    assert d >= abs(len(a) - len(b))
    assert d <= max(len(a), len(b))
    assert (d == 0) == (a == b)


@given(st.text(max_size=50), st.text(max_size=50))
@settings(max_examples=150)
def test_similarity_bounded(a, b):
    s = string_similarity_py(a, b)
    # per-word weights are <=1 and matches <= max(len) -> bounded by 1... but
    # the reference divides by max(len) while iterating words1 only, so the
    # score is bounded by len(words1)/max <= 1
    assert 0.0 <= s <= 1.0


@given(st.text(min_size=1, max_size=50))
@settings(max_examples=100)
def test_comparar_reflexive(a):
    assert comparar_productos_py(a, a) is True


# ---- extraction-kernel fuzz: crawl reality is arbitrary bytes ----------
@settings(max_examples=60, deadline=None)
@given(
    html=st.one_of(st.none(), st.binary(max_size=400)),
    text=st.one_of(st.none(), st.text(max_size=400)),
)
def test_extract_header_kernel_total_on_arbitrary_input(html, text):
    """The fused header kernel must be TOTAL over crawl reality — None,
    arbitrary binary (invalid UTF-8 included), control chars, lone
    surrogates in text — returning exactly one well-typed row per doc."""
    from facturas_spark.extraction.udf import extract_batch_header

    out = extract_batch_header([html], [text])
    assert len(out) == 1
    row = out.iloc[0]
    assert isinstance(row["extracted_text"], str)
    assert row["tipo_documento"] in (
        "factura", "albaran", "ticket", "presupuesto", "desconocido", "otro",
    ) or isinstance(row["tipo_documento"], str)
    assert 0.0 <= row["confianza_global"] <= 1.0
