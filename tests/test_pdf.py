"""PDF text source tests (sources/pdf.py + the extraction wiring)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from facturas_spark.extraction.boilerplate import extract_main_text
from facturas_spark.sources.pdf import encode_pdf, pdf_extract_text


def test_roundtrip_lines():
    lines = [
        "FACTURA Nº 4711",
        "CIF: B12345678",
        "FECHA 14/07/2025",
        "TOTAL: 1.234,56 €",
        "parens (nested (deep)) and \\ backslash",
    ]
    out = pdf_extract_text(encode_pdf(lines))
    assert out.splitlines() == lines


def test_escapes_and_hex_strings():
    # hand-built uncompressed stream: octal escape, hex string, quote op
    content = (
        b"BT (A\\051B) Tj 0 -14 Td (second) Tj "
        b"<48454C4C4F> Tj (third') ' ET"
    )
    pdf = (
        b"%PDF-1.4\n1 0 obj << /Length "
        + str(len(content)).encode()
        + b" >>\nstream\n"
        + content
        + b"\nendstream\nendobj\n%%EOF"
    )
    out = pdf_extract_text(pdf)
    assert out.splitlines() == ["A)B", "secondHELLO", "third'"]


def test_hostile_pdfs_never_raise():
    assert pdf_extract_text(b"%PDF-1.4 garbage with no streams") == ""
    assert pdf_extract_text(b"%PDF" + b"\x00" * 50) == ""
    # broken Flate body is skipped, not fatal
    broken = b"%PDF-1.4\n1 0 obj << /Length 4 /Filter /FlateDecode >>\nstream\nXXXX\nendstream"
    assert pdf_extract_text(broken) == ""


@given(st.binary(min_size=0, max_size=400))
@settings(max_examples=80, deadline=None)
def test_pdf_extract_text_total_on_junk(junk):
    """The PDF extractor never raises and always terminates: arbitrary
    bytes behind the ``%PDF`` magic yield a string."""
    assert isinstance(pdf_extract_text(b"%PDF-1.4" + junk), str)


def test_extract_main_text_routes_pdf():
    lines = ["DISTRIBUCIONES RIO S.A.", "CIF: A81234567", "TOTAL: 88,99"]
    got = extract_main_text(encode_pdf(lines))
    assert got == "\n".join(lines)
    # the sniff must not disturb html/plain payloads
    assert extract_main_text(b"plain text line") == "plain text line"


def test_pdf_invoice_through_full_pipeline(spark):
    """End-to-end: corpus doc text -> PDF bytes -> pages row with ONLY the
    pdf payload -> fused extraction UDF. Extracted fields must equal
    extraction over the pdf-extracted text directly (the pipeline treats
    PDF as just another payload encoding)."""
    from pyspark.sql import functions as F

    from facturas_spark.extraction.textparse import extract_fields
    from facturas_spark.pipeline import extract_pages
    from facturas_spark.synth import gen_corpus

    docs = [d for d in gen_corpus(40, seed=7) if d.text and "\n" in d.text][:8]
    rows = []
    for k, d in enumerate(docs):
        pdf = encode_pdf(d.text.split("\n"))
        rows.append((f"pdf://doc/{k}", None, bytearray(pdf), None, d.lang))
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    got = {r.url: r for r in extract_pages(df).collect()}
    assert len(got) == len(rows)
    for k, d in enumerate(docs):
        r = got[f"pdf://doc/{k}"]
        want = extract_fields(extract_main_text(encode_pdf(d.text.split("\n"))))
        assert r.proveedor_cif == want.proveedor_cif
        assert r.numero_factura == want.numero_factura
        assert r.total_factura == want.total_factura
    # at least some PDFs must yield real extractions (not a null wall)
    assert sum(1 for r in got.values() if r.proveedor_cif) >= len(rows) // 2
