"""OCR-layout extraction layer (SURVEY §2.2 T1-T3, §2.3 F13/F14, §2.4 P1).

Operates on the ``ocr_doc`` shape from FIXTURES.md §3 (Document-AI-style):
flat ``text`` + per-page token/line/block offset+box arrays + tables. The
per-document kernel is pure Python (batched via one Arrow UDF); the
byte-identical invariant is ``text[start:end]`` concatenation per span
(T1, getTextFromAnchor — process-invoice/index.ts:1738-1809).

Reference semantics (studied, not copied):
- layout walk + confidence priors   process-invoice/index.ts:1122-1165
  (blocks 0.7 / paragraphs 0.75 / lines 0.85 / tokens 0.9)
- table extraction P1               :2043-2130 (header regex binding:
  cantidad/uds, descripcion/concepto/articulo, precio/importe/total,
  codigo/ref; body row -> product if len(desc)>2 and price>0; conf 0.9)
- form-field mapper F13             :461-670 (normalized name routing,
  max-confidence merge, derive cuota+tipo from base & total)
- entity mapper F14                 :673-863 (type-synonym routing,
  rejects date-shaped invoice numbers, confianza = mean of 3 floor 0.3)
"""

from __future__ import annotations

import math
import re
from datetime import date

from facturas_spark.extraction.spans import cluster_rows, text_from_segments
from facturas_spark.extraction.textparse import js_round2, parse_spanish_amount

__all__ = [
    "OCR_DOC_DDL",
    "walk_layout",
    "extract_table_products",
    "map_form_fields",
    "map_entities",
    "reconstruct_rows_from_tokens",
]

_SPAN_DDL = "array<struct<start: long, end: long, x: double, y: double, w: double, h: double, conf: double>>"
OCR_DOC_DDL = (
    "url string, text string, pages array<struct<"
    "page_no: int, width: double, height: double, "
    f"tokens: {_SPAN_DDL}, lines: {_SPAN_DDL}, blocks: {_SPAN_DDL}, "
    f"paragraphs: {_SPAN_DDL}, "
    "tables: array<struct<"
    "  header_cells: array<struct<start: long, end: long>>, "
    "  body_rows: array<array<struct<start: long, end: long>>>>>"
    ">>"
)

# (container field, reference key, confidence prior) in the reference's
# walk order — process-invoice/index.ts:1125-1130: block 0.7 /
# paragraph 0.75 / line 0.85 / token 0.9
_CONTAINERS = (
    ("blocks", "block", 0.7),
    ("paragraphs", "paragraph", 0.75),
    ("lines", "line", 0.85),
    ("tokens", "token", 0.9),
)


def _seq(x):
    """None-safe sequence view that tolerates numpy arrays (Arrow hands
    pandas UDFs ndarrays of dicts, whose truthiness raises — the old
    ``x or []`` idiom forced a whole-tree dict copy before every call)."""
    return () if x is None else x


def walk_layout(text: str, pages: list[dict]) -> list[dict]:
    """T3: emit one element per layout container with byte-identical span
    text, pixel coords, and the reference's per-kind confidence prior.
    Element ids follow the reference shape exactly —
    ``pagina_{p}_{kind}_{i}`` with the SINGULAR container key and both
    indices 1-based (index.ts:1141 ``pagina_${pageIndex+1}_${key}_${idx+1}``).
    Containers walked in reference order: blocks, paragraphs, lines,
    tokens. Elements whose anchor reconstructs to empty text (invalid or
    out-of-bounds segments) are skipped, matching the reference's trimmed
    getTextFromAnchor + null-coords gate."""
    elements: list[dict] = []
    n = len(text) if text else 0
    for p, page in enumerate(_seq(pages)):
        default_page_no = page.get("page_no", p + 1)
        for field, key, conf in _CONTAINERS:
            for i, el in enumerate(_seq(page.get(field))):
                # inlined single-segment text_from_segments (the walk
                # touches every container of every page — the function
                # call + list build per element was 30% of the kernel)
                s0, e0 = el.get("start"), el.get("end")
                if s0 is None or e0 is None:
                    continue
                try:
                    s, e = int(s0), int(e0)
                except (TypeError, ValueError):
                    continue
                if not 0 <= s < e <= n:
                    continue
                span_text = text[s:e].strip()
                if not span_text:
                    continue
                elements.append(
                    {
                        "id": f"pagina_{p + 1}_{key}_{i + 1}",
                        "page_no": default_page_no,
                        "kind": key,
                        "texto": span_text,
                        "x": el.get("x"),
                        "y": el.get("y"),
                        "w": el.get("w"),
                        "h": el.get("h"),
                        "conf": conf,
                    }
                )
    return elements


# exact header banks of extractProductsFromFormParser
# (process-invoice/index.ts:2066-2077)
_HDR_CANTIDAD = re.compile(r"cantidad|uds?|unidades?|qty", re.IGNORECASE)
_HDR_DESC = re.compile(r"descripci[oó]n|concepto|art[ií]culo|producto|item", re.IGNORECASE)
_HDR_PRECIO = re.compile(r"precio|importe|total|euros?|€", re.IGNORECASE)
_HDR_CODIGO = re.compile(r"c[oó]digo|ref|referencia|sku", re.IGNORECASE)


def _find_index(headers: list[str], pattern: re.Pattern) -> int | None:
    for idx, h in enumerate(headers):
        if pattern.search(h):
            return idx
    return None


def extract_table_products(text: str, pages: list[dict]) -> list[dict]:
    """P1: per table — bind columns by fuzzy header regex, emit one product
    per body row when description len > 2 and price > 0; confidence 0.9.

    Column binding is INDEPENDENT per column (reference findIndex at
    index.ts:2066-2077): one merged header cell can bind several columns —
    real Document-AI tables merge headers (JSON_MUESTRA's line-item table
    has 'Pedido/Fecha/Artículo/Cantidad' in one cell), and the reference
    still binds desc and cantidad to it."""
    productos: list[dict] = []
    for page in _seq(pages):
        for table in _seq(page.get("tables")):
            headers = [
                text_from_segments(text, [(c.get("start"), c.get("end"))])
                for c in _seq(table.get("header_cells"))
            ]
            col_cantidad = _find_index(headers, _HDR_CANTIDAD)
            col_desc = _find_index(headers, _HDR_DESC)
            col_precio = _find_index(headers, _HDR_PRECIO)
            col_codigo = _find_index(headers, _HDR_CODIGO)
            if col_desc is None:
                continue
            for row in _seq(table.get("body_rows")):
                cells = [
                    text_from_segments(text, [(c.get("start"), c.get("end"))])
                    for c in row
                ]

                def cell(idx):
                    return cells[idx] if idx is not None and idx < len(cells) else ""

                desc = cell(col_desc)
                precio = parse_spanish_amount(cell(col_precio)) if col_precio is not None else None
                if len(desc) > 2 and precio is not None and precio > 0:
                    cantidad = parse_spanish_amount(cell(col_cantidad)) if col_cantidad is not None else None
                    productos.append(
                        {
                            "linea_numero": len(productos) + 1,
                            "descripcion_original": desc,
                            "cantidad": cantidad if cantidad and cantidad > 0 else 1.0,
                            "precio_total_linea_sin_iva": precio,
                            "codigo_producto": cell(col_codigo) or None,
                            "confianza_linea": 0.9,
                        }
                    )
    return productos


_CIF_STRICT = re.compile(r"^[A-Z]\d{8}[A-Z0-9]?$")
_CIF_NIF = re.compile(r"^\d{8}[A-Z]$")
_NAME_CLEAN = re.compile(r"[\n\r\:\.\s]")
_CRLF = re.compile(r"[\n\r]")
_WSP = re.compile(r"\s+")


def map_form_fields(
    fields: list[tuple[str, str, float]], extracted: dict | None = None
) -> dict:
    """F13: route (field_name, field_value, confidence) tuples into the
    extracted-fields dict, exact elif order of the reference; then derive
    cuota + tipo from base & total (index.ts:659-666)."""
    d = extracted if extracted is not None else {}
    d.setdefault("proveedor_nombre", None)
    d.setdefault("proveedor_cif", None)
    d.setdefault("numero_factura", None)
    d.setdefault("fecha_factura", None)
    d.setdefault("total_factura", 0.0)
    d.setdefault("base_imponible", 0.0)
    d.setdefault("cuota_iva", 0.0)
    d.setdefault("tipo_iva", 0)
    d.setdefault("confianza_proveedor", 0.0)
    d.setdefault("confianza_datos_fiscales", 0.0)
    d.setdefault("confianza_importes", 0.0)

    for field_name, field_value, confidence in fields:
        name = _NAME_CLEAN.sub("", (field_name or "").lower().strip())
        value = _CRLF.sub("", (field_value or "").strip())

        if "fecha" in name and "vto" not in name:
            if value and len(value) >= 8:
                parts = value.split("/")
                if len(parts) == 3:
                    try:
                        dia, mes, anio = parts
                        d["fecha_factura"] = date(int(anio), int(mes), int(dia))
                        d["confianza_datos_fiscales"] = max(
                            d["confianza_datos_fiscales"], confidence
                        )
                    except (ValueError, TypeError):
                        pass
        elif "factura" in name or "nºdefactura" in name or "numerofactura" in name:
            if value:
                d["numero_factura"] = _WSP.sub("", value)
                d["confianza_datos_fiscales"] = max(
                    d["confianza_datos_fiscales"], confidence
                )
        elif "nif" in name or "cif" in name:
            if value and len(value) >= 8:
                cleaned = re.sub(r"[\s\-\.]", "", value).upper()
                if _CIF_STRICT.match(cleaned) or _CIF_NIF.match(cleaned):
                    d["proveedor_cif"] = cleaned
                    d["confianza_datos_fiscales"] = max(
                        d["confianza_datos_fiscales"], confidence
                    )
        elif "totalfactura" in name or "totalapagar" in name:
            amt = parse_spanish_amount(value) if value else None
            if amt and amt > 0:
                d["total_factura"] = amt
                d["confianza_importes"] = max(d["confianza_importes"], confidence)
        elif "totalconceptos" in name or "base" in name or "subtotal" in name:
            amt = parse_spanish_amount(value) if value else None
            if amt and amt > 0:
                d["base_imponible"] = amt
                d["confianza_importes"] = max(d["confianza_importes"], confidence)
        elif "totalliquido" in name:
            amt = parse_spanish_amount(value) if value else None
            if amt and amt > 0 and d["total_factura"] == 0:
                d["total_factura"] = amt
                d["confianza_importes"] = max(d["confianza_importes"], confidence)
        elif "identificacioncliente" in name:
            if value and len(value) > 10:
                # NB: reference splits the *cleaned* value (CR/LF already
                # stripped), so multi-line detection needs the raw value —
                # we follow the reference and split the raw field_value
                lines = [ln for ln in (field_value or "").split("\n") if ln.strip()]
                if len(lines) >= 2 and len(lines[1]) > 5:
                    d["proveedor_nombre"] = lines[1].strip()
                    d["confianza_proveedor"] = max(
                        d["confianza_proveedor"], confidence
                    )

    if d["base_imponible"] > 0 and d["total_factura"] > 0:
        d["cuota_iva"] = js_round2(d["total_factura"] - d["base_imponible"])
        if d["cuota_iva"] > 0:
            d["tipo_iva"] = int(
                math.floor(d["cuota_iva"] / d["base_imponible"] * 100 + 0.5)
            )
    return d


_DATE_SHAPED = re.compile(r"^\d{1,2}[\/\-\.]\d{1,2}[\/\-\.]\d{2,4}$")

_ENT_PROVEEDOR = ("proveedor", "empresa", "compañia", "compañía", "entidad",
                  "supplier", "vendor", "company", "seller", "merchant")
_ENT_CIF = ("cif", "nif", "identificación", "identificacion", "tax", "vat",
            "ein", "business", "registration")
_ENT_NUMERO = ("factura", "numero", "número", "documento", "folio",
               "referencia", "invoice", "document", "reference", "number")
_ENT_FECHA = ("fecha", "emisión", "emision", "date", "time")
_ENT_IMPORTE = ("dinero", "importe", "total", "precio", "coste", "costo",
                "valor", "money", "currency", "amount", "price", "cost")


def map_entities(entities: list[tuple[str, str, float]]) -> dict:
    """F14 ``extractFromEntities`` (process-invoice/index.ts:673-863), exact
    semantics: substring gates on the lowered entity type, NON-exclusive
    ``if`` blocks (one entity can hit several), CIF strips spaces/dashes
    only (dots survive — faithful), numero rejects values containing
    '/', '-', '.' or a date shape, importes sub-routes total/base/iva only
    when the outer money gate matched; confianza_global = max(0.3, mean3).
    """
    d: dict = {
        "proveedor_nombre": None,
        "proveedor_cif": None,
        "numero_factura": None,
        "fecha_factura": None,
        "total_factura": 0.0,
        "base_imponible": 0.0,
        "cuota_iva": 0.0,
        "confianza_proveedor": 0.0,
        "confianza_datos_fiscales": 0.0,
        "confianza_importes": 0.0,
    }
    from facturas_spark.extraction.textparse import parse_spanish_date

    for etype, mention, conf in entities:
        t = (etype or "").lower().strip()
        v = mention or ""
        vs = v.strip()

        if any(k in t for k in _ENT_PROVEEDOR):
            if len(vs) > 3:
                d["proveedor_nombre"] = vs
                d["confianza_proveedor"] = max(d["confianza_proveedor"], conf)

        if any(k in t for k in _ENT_CIF):
            if len(vs) >= 8:
                d["proveedor_cif"] = re.sub(r"[\s\-]", "", v)
                d["confianza_datos_fiscales"] = max(
                    d["confianza_datos_fiscales"], conf
                )

        if any(k in t for k in _ENT_NUMERO):
            if (
                len(vs) >= 1
                and "/" not in v
                and "-" not in v
                and "." not in v
                and not _DATE_SHAPED.match(v)
            ):
                d["numero_factura"] = vs
                d["confianza_datos_fiscales"] = max(
                    d["confianza_datos_fiscales"], conf
                )

        if any(k in t for k in _ENT_FECHA):
            if len(vs) >= 6:
                parsed = parse_spanish_date(v)
                if parsed is not None:
                    d["fecha_factura"] = parsed
                    d["confianza_datos_fiscales"] = max(
                        d["confianza_datos_fiscales"], conf
                    )

        if any(k in t for k in _ENT_IMPORTE):
            amt = parse_spanish_amount(v)
            if amt and amt > 0:
                if "total" in t or "importe" in t:
                    d["total_factura"] = amt
                    d["confianza_importes"] = max(d["confianza_importes"], conf)
                elif "base" in t or "neto" in t:
                    d["base_imponible"] = amt
                    d["confianza_importes"] = max(d["confianza_importes"], conf)
                elif "iva" in t or "impuesto" in t:
                    d["cuota_iva"] = amt
                    d["confianza_importes"] = max(d["confianza_importes"], conf)

    d["confianza_global"] = max(
        0.3,
        (d["confianza_proveedor"] + d["confianza_datos_fiscales"] + d["confianza_importes"]) / 3,
    )
    return d


def reconstruct_rows_from_tokens(
    text: str, page: dict, eps: float | None = None
) -> list[str]:
    """P1 generalization: rebuild visual text rows from raw token boxes via
    y-clustering (spans.cluster_rows), joining tokens left-to-right with a
    single space. eps defaults to page_height/140 (~half a text line)."""
    tokens = _seq(page.get("tokens"))
    if eps is None:
        eps = float(page.get("height") or 842.0) / 140.0
    rows = cluster_rows(tokens, eps=eps)
    out = []
    for row in rows:
        texts = [
            text_from_segments(text, [(t.get("start"), t.get("end"))]) for t in row
        ]
        joined = " ".join(t for t in texts if t)
        if joined:  # rows made only of invalid-span tokens render empty -> drop
            out.append(joined)
    return out
