"""Line-item (product) extraction layer — SURVEY §2.4 P3-P15.

Pure-Python per-document kernels mirroring the reference's deterministic
product pipeline (citations per function), returning one list of product
dicts per document. The Spark operator wraps this in a single Arrow UDF
returning ``array<struct>`` which downstream ``posexplode``s — per-doc
sequential logic stays in one pass, no cross-row shuffle.

Reference (studied, not copied):
- extractProductsFromFullText  process-invoice/index.ts:1982-2040 (P3)
- extractQuantityFromText      :1877-1900 (P4)
- extractPriceFromText         :1903-1929 (P5)
- extractCodeFromText          :1932-1952 (P6)
- extractUnitFromText          :1955-1979 (P7)
- normalizeProductName         :1850-1874 (P8)
- fixPriceCalculation          :3249-3347 (P9 price-closure FSM)
- extractProductFormat         :2924-3029 (P10)
- inferFormatFromDescription   :3033-3124 (P11 34-entry KB)
- validateFormatRange          :3127-3168 (P12)
- calculatePricePerKg/Liter    :3171-3246 (P13)
- inferCategory                :2774-2850 (P15)
"""

from __future__ import annotations

import math
import re

from facturas_spark.extraction.textparse import _js_parse_float, js_round2

__all__ = [
    "normalize_product_name",
    "extract_quantity",
    "extract_price",
    "extract_code",
    "extract_unit",
    "fix_price_calculation",
    "extract_product_format",
    "infer_format",
    "validate_format_range",
    "price_per_kg",
    "price_per_liter",
    "infer_category",
    "extract_products",
]

_I = re.IGNORECASE


# --- P8: conservative name normalization ------------------------------------
_QUOTES = re.compile(r"[“”‘’]")
_DASHES = re.compile(r"[–—]")
_WS = re.compile(r"\s+")
_TRAIL_LETTER = re.compile(r"\s+[a-z]\s*$")
_TRAIL_ES = re.compile(r"\s+es\s*$")
_TRAIL_CC = re.compile(r"\s+cc\s*$")


def normalize_product_name(name: str | None) -> str:
    if not name:
        return ""
    n = name.lower().strip()
    n = _QUOTES.sub('"', n)
    n = _DASHES.sub("-", n)
    n = _WS.sub(" ", n)
    n = _TRAIL_LETTER.sub("", n)
    n = _TRAIL_ES.sub("", n)
    n = _TRAIL_CC.sub("", n)
    n = n.replace("×", "x")
    n = n.replace(".", "")
    return n.strip()


# --- P4: quantity ------------------------------------------------------------
_QTY_PATTERNS = [
    re.compile(r"(\d+[,\.]\d+)\s*(?:kg|kilogramos?|gramos?|g|unidades?|uds?|piezas?|litros?|l|ml)", _I),
    re.compile(r"(\d+)\s*(?:kg|kilogramos?|gramos?|g|unidades?|uds?|piezas?|litros?|l|ml)", _I),
    re.compile(r"^(\d+[,\.]\d+)"),
    re.compile(r"^(\d+)"),
]


def extract_quantity(text: str | None) -> float:
    if not text or _HAS_DIGIT.search(text) is None:
        return 1.0  # every qty pattern needs a digit
    for pat in _QTY_PATTERNS:
        m = pat.search(text)
        if m:
            q = _js_parse_float(m.group(1).replace(",", ".", 1))
            if not math.isnan(q) and q > 0:
                return q
    return 1.0


# --- P5: price ---------------------------------------------------------------
_PRICE_PATTERNS = [
    re.compile(r"(\d+[,\.]\d{2})\s*€"),
    re.compile(r"€\s*(\d+[,\.]\d{2})"),
    re.compile(r"(\d+[,\.]\d{2})\s*euros?", _I),
    re.compile(r"(\d+[,\.]\d{2})\s*eur", _I),
    re.compile(r"(\d+[,\.]\d{2})$"),
    re.compile(r"(\d+)\s*€"),
    re.compile(r"€\s*(\d+)"),
]


# the no-euro-marker fast path applies exactly bank pattern [4]; alias it
# so the two can never drift apart
_PRICE_EOL = _PRICE_PATTERNS[4]


def extract_price(text: str | None) -> float | None:
    if not text or _HAS_DIGIT.search(text) is None:
        return None
    # Necessary-literal gate: patterns 1-2/6-7 need '€', 3-4 need 'eur';
    # only pattern 5 (amount at end of line) is literal-free. When neither
    # marker is present, scan just that one.
    if "€" not in text and "eur" not in text.lower():
        m = _PRICE_EOL.search(text)
        if m:
            p = _js_parse_float(m.group(1).replace(",", ".", 1))
            if not math.isnan(p) and p > 0:
                return p
        return None
    for pat in _PRICE_PATTERNS:
        m = pat.search(text)
        if m:
            p = _js_parse_float(m.group(1).replace(",", ".", 1))
            if not math.isnan(p) and p > 0:
                return p
    return None


# --- P6: product code --------------------------------------------------------
_CODE_PATTERNS = [
    re.compile(r"^([A-Z0-9]{3,10})\s"),
    re.compile(r"^(\d{4,8})\s"),
    re.compile(r"([A-Z]{2,4}\d{2,6})"),
    re.compile(r"(\d{3,6}[A-Z]{1,3})"),
]


_HAS_UPPER = re.compile(r"[A-Z]")


def extract_code(text: str | None) -> str | None:
    if not text:
        return None
    # Patterns 1-2 are ^-anchored (constant-time fail); 3-4 are full scans
    # needing both a digit and an uppercase letter — gate them.
    for pat in _CODE_PATTERNS[:2]:
        m = pat.search(text)
        if m:
            return m.group(1)
    if _HAS_DIGIT.search(text) is None or _HAS_UPPER.search(text) is None:
        return None
    for pat in _CODE_PATTERNS[2:]:
        m = pat.search(text)
        if m:
            return m.group(1)
    return None


# --- P7: unit of measure -----------------------------------------------------
_UNIT_PATTERNS = [
    re.compile(r"(kg|kilogramos?)", _I),
    re.compile(r"(g|gramos?)", _I),
    re.compile(r"(l|litros?)", _I),
    re.compile(r"(ml|mililitros?)", _I),
    re.compile(r"(uds?|unidades?)", _I),
    re.compile(r"(piezas?|pzas?)", _I),
    re.compile(r"(cajas?)", _I),
    re.compile(r"(paquetes?)", _I),
]


# Necessary lowercase literal per unit pattern (any one present unlocks the
# scan): single-char `in` probes are ~10x cheaper than a regex pass.
_UNIT_GATES: list[tuple[re.Pattern[str], tuple[str, ...]]] = [
    (_UNIT_PATTERNS[0], ("k",)),             # kg|kilogramos?
    (_UNIT_PATTERNS[1], ("g",)),             # g|gramos?
    (_UNIT_PATTERNS[2], ("l",)),             # l|litros?
    (_UNIT_PATTERNS[3], ("ml", "mililitro")),
    (_UNIT_PATTERNS[4], ("ud", "unidad")),
    (_UNIT_PATTERNS[5], ("pieza", "pza")),
    (_UNIT_PATTERNS[6], ("caja",)),
    (_UNIT_PATTERNS[7], ("paquete",)),
]


def extract_unit(text: str | None) -> str | None:
    if not text:
        return None
    low = text.lower()
    for pat, gates in _UNIT_GATES:
        if not any(g in low for g in gates):
            continue
        m = pat.search(text)
        if m:
            return m.group(1).lower()
    return None


# --- P9: price-closure FSM ----------------------------------------------------
def fix_price_calculation(p: dict) -> dict:
    """8-rule single-pass closure over {unitario, total} x {sin, con} IVA +
    cantidad. Rule order matters and is preserved exactly (index.ts:3249-3347).
    Falsy checks mirror JS (`!x || x === 0` -> None or 0)."""
    tipo = p.get("tipo_iva") or 21
    factor = 1 + tipo / 100

    def has(v):  # JS truthy for numbers: not None and != 0
        return v is not None and v != 0

    u_sin, u_con = p.get("precio_unitario_sin_iva"), p.get("precio_unitario_con_iva")
    t_sin, t_con = p.get("precio_total_linea_sin_iva"), p.get("precio_total_linea_con_iva")
    qty = p.get("cantidad")

    if has(u_con) and not has(u_sin):
        u_sin = u_con / factor
    if has(u_sin) and not has(u_con):
        u_con = u_sin * factor
    if has(t_con) and not has(t_sin):
        t_sin = t_con / factor
    if has(t_sin) and not has(t_con):
        t_con = t_sin * factor
    if not has(u_sin) and has(t_sin) and has(qty) and qty > 0:
        u_sin = t_sin / qty
        u_con = u_sin * factor
    if not has(t_sin) and has(u_sin) and has(qty) and qty > 0:
        t_sin = u_sin * qty
        t_con = t_sin * factor
    if has(u_con) and has(qty) and not has(t_sin):
        u_sin = u_con / factor
        t_sin = u_sin * qty
        t_con = u_con * qty
    if has(t_con) and has(qty) and not has(u_sin):
        t_sin = t_con / factor
        u_sin = t_sin / qty
        u_con = u_sin * factor

    p["precio_unitario_sin_iva"] = u_sin
    p["precio_unitario_con_iva"] = u_con
    p["precio_total_linea_sin_iva"] = t_sin
    p["precio_total_linea_con_iva"] = t_con
    p["tipo_iva"] = tipo
    return p


# --- P11: format-inference knowledge base -------------------------------------
# (product keywords -> typical weight kg / volume l), from index.ts:3037-3073
_KB: list[tuple[tuple[str, ...], float | None, float | None, str]] = [
    (("pollo", "entero"), 1.5, None, "1.5kg aprox."),
    (("pollo", "muslos"), 1.0, None, "1kg aprox."),
    (("pollo", "pechuga"), 0.8, None, "800g aprox."),
    (("ternera", "filete"), 0.5, None, "500g aprox."),
    (("ternera", "solomillo"), 0.4, None, "400g aprox."),
    (("cerdo", "lomo"), 0.8, None, "800g aprox."),
    (("cerdo", "costillas"), 1.2, None, "1.2kg aprox."),
    (("cordero", "pierna"), 2.0, None, "2kg aprox."),
    (("pan", "barra"), 0.5, None, "500g"),
    (("pan", "hogaza"), 0.8, None, "800g"),
    (("huevos", "docena"), 0.72, None, "12 uds"),
    (("huevos", "12"), 0.72, None, "12 uds"),
    (("huevos", "frescos"), 0.72, None, "12 uds"),
    (("leche", "brick"), None, 1.0, "1l"),
    (("leche", "botella"), None, 1.0, "1l"),
    (("aceite", "botella"), None, 1.0, "1l"),
    (("aceite", "oliva"), None, 0.5, "500ml"),
    (("vino", "botella"), None, 0.75, "750ml"),
    (("cerveza", "botella"), None, 0.33, "330ml"),
    (("agua", "botella"), None, 1.5, "1.5l"),
    (("refresco", "lata"), None, 0.33, "330ml"),
    (("yogur", "pack"), 0.5, None, "4x125g"),
    (("yogur", "natural"), 0.125, None, "125g"),
    (("arroz", "paquete"), 1.0, None, "1kg"),
    (("pasta", "paquete"), 0.5, None, "500g"),
    (("harina", "paquete"), 1.0, None, "1kg"),
    (("azucar", "paquete"), 1.0, None, "1kg"),
    (("sal", "paquete"), 1.0, None, "1kg"),
    (("patatas", "bolsa"), 2.0, None, "2kg"),
    (("cebolla", "bolsa"), 1.0, None, "1kg"),
    (("tomate", "bandeja"), 0.5, None, "500g"),
    (("queso", "cuña"), 0.25, None, "250g"),
    (("jamon", "pieza"), 0.2, None, "200g"),
    (("mantequilla", "pastilla"), 0.25, None, "250g"),
]

_UNIT_COUNT_PATTERNS = [
    (re.compile(r"(\d+)\s*(?:uds?|unidades?)", _I), None, "unidad"),
    (re.compile(r"(\d+)\s*(?:pcs?|piezas?)", _I), None, "unidad"),
    (re.compile(r"(\d+)\s*(?:cajas?)", _I), None, "caja"),
    (re.compile(r"(\d+)\s*(?:packs?)", _I), None, "pack"),
    (re.compile(r"docena", _I), 12, "unidad"),
    (re.compile(r"media\s+docena", _I), 6, "unidad"),
]


import functools


# Unpacked KB rows (every entry has exactly 2 keywords): direct `in` tests
# instead of an all(...) genexpr — the KB scan runs once per product line
# and the genexpr allocation dominated its profile.
_KB_FAST: list[tuple[str, str, float | None, float | None, str]] = [
    (words[0], words[1], peso, vol, fmt) for words, peso, vol, fmt in _KB
]


@functools.lru_cache(maxsize=8192)
def infer_format(desc: str) -> tuple[str | None, float | None, float | None]:
    """KB lookup then unit-count patterns; returns (formato, peso_kg, vol_l).

    Memoized: the pipeline consults it up to 3x per product line (format,
    €/kg fallback, €/l fallback) and product descriptions repeat heavily
    across a corpus — pure function, so caching is semantics-free.
    """
    d = desc.lower()
    for w1, w2, peso, vol, fmt in _KB_FAST:
        if w1 in d and w2 in d:
            if peso is not None:
                return fmt, peso, None
            return fmt, None, vol
    for pat, fixed_qty, tipo in _UNIT_COUNT_PATTERNS:
        m = pat.search(d)
        if m:
            qty = fixed_qty if fixed_qty is not None else int(m.group(1))
            return f"{qty} {tipo}", None, None
    return None, None, None


# --- P10: explicit commercial format -------------------------------------------
_NUM = r"(\d+(?:[,\.]\d+)?)"
_PESO_PATTERNS = [
    re.compile(_NUM + r"\s*kg", _I),
    re.compile(_NUM + r"\s*kilogramos?", _I),
    re.compile(_NUM + r"\s*g(?:\s|$)", _I),
    re.compile(_NUM + r"\s*gr(?:\s|$)", _I),
    re.compile(_NUM + r"\s*gramos?", _I),
    re.compile(r"bandeja\s+(?:de\s+)?" + _NUM + r"\s*g", _I),
    re.compile(r"pack\s+(?:de\s+)?" + _NUM + r"\s*g", _I),
    re.compile(r"pieza\s+(?:de\s+)?" + _NUM + r"\s*g", _I),
    re.compile(r"aprox\.?\s*" + _NUM + r"\s*kg", _I),
    re.compile(r"aproximadamente\s+" + _NUM + r"\s*kg", _I),
    re.compile(r"peso\s+(?:aprox\.?\s+)?" + _NUM + r"\s*(?:kg|g)", _I),
]
_VOL_PATTERNS = [
    re.compile(_NUM + r"\s*l(?:\s|$)", _I),
    re.compile(_NUM + r"\s*litros?", _I),
    re.compile(_NUM + r"\s*ml", _I),
    re.compile(_NUM + r"\s*mililitros?", _I),
    re.compile(_NUM + r"\s*cl", _I),
    re.compile(_NUM + r"\s*centilitros?", _I),
    re.compile(r"botella\s+(?:de\s+)?" + _NUM + r"\s*(?:ml|cl|l)", _I),
    re.compile(r"envase\s+(?:de\s+)?" + _NUM + r"\s*(?:ml|cl|l)", _I),
    re.compile(r"brick\s+(?:de\s+)?" + _NUM + r"\s*(?:ml|cl|l)", _I),
]


def extract_product_format(description: str | None) -> tuple[str | None, float | None, float | None]:
    """(formato_comercial, peso_neto_kg, volumen_l); explicit patterns first,
    then KB inference. Unit decision uses substring checks on the whole
    description, as the reference does (kg anywhere in desc -> kg)."""
    if not description:
        return None, None, None
    desc = description.lower()
    formato = peso = vol = None
    # Necessary-condition gates: every peso pattern needs a digit and the
    # letter 'g' (kg/g/gr/gramos/kilogramos); every vol pattern a digit and
    # 'l' (l/ml/cl/litros/centilitros). When the gate fails the bank
    # provably yields no match — skipping the 11/9 regex scans is free.
    has_digit = _HAS_DIGIT.search(desc) is not None
    for pat in _PESO_PATTERNS if (has_digit and "g" in desc) else ():
        m = pat.search(desc)
        if m:
            valor = _js_parse_float(m.group(1).replace(",", ".", 1))
            if "kg" in desc or "kilogram" in desc:
                peso = valor
                formato = f"{valor:g} kg"
            else:
                peso = valor / 1000
                formato = f"{valor:g} g"
            break
    if peso is None and has_digit and "l" in desc:
        for pat in _VOL_PATTERNS:
            m = pat.search(desc)
            if m:
                valor = _js_parse_float(m.group(1).replace(",", ".", 1))
                if "ml" in desc or "mililitro" in desc:
                    vol = valor / 1000
                    formato = f"{valor:g} ml"
                elif "cl" in desc or "centilitro" in desc:
                    vol = valor / 100
                    formato = f"{valor:g} cl"
                else:
                    vol = valor
                    formato = f"{valor:g} l"
                break
    if formato is None:
        formato, peso, vol = infer_format(desc)
    return formato, peso, vol


# --- P12: range validation (warn-only) ------------------------------------------
def validate_format_range(
    peso: float | None, vol: float | None, desc: str
) -> tuple[bool, str]:
    if peso is not None:
        if peso > 50:
            return False, "peso_demasiado_alto"
        if peso < 0.001:
            return False, "peso_demasiado_bajo"
        if "pollo" in desc and (peso < 0.3 or peso > 5):
            return False, "peso_pollo_fuera_rango"
        if "huevo" in desc and peso > 2:
            return False, "peso_huevos_sospechoso"
        if "pan" in desc and (peso < 0.1 or peso > 2):
            return False, "peso_pan_fuera_rango"
    if vol is not None:
        if vol > 20:
            return False, "volumen_demasiado_alto"
        if vol < 0.01:
            return False, "volumen_demasiado_bajo"
        if "cerveza" in desc and vol > 2:
            return False, "volumen_cerveza_sospechoso"
    return True, "ok"


# --- P13: €/kg and €/l ------------------------------------------------------------
def price_per_kg(precio_unitario: float | None, peso: float | None, desc: str | None = None) -> float | None:
    if not precio_unitario or precio_unitario <= 0:
        return None
    if not peso or peso <= 0:
        if desc:
            _, peso, _ = infer_format(desc.lower())
        if not peso or peso <= 0:
            return None
    return js_round2(precio_unitario / peso)


def price_per_liter(precio_unitario: float | None, vol: float | None, desc: str | None = None) -> float | None:
    if not precio_unitario or precio_unitario <= 0:
        return None
    if not vol or vol <= 0:
        if desc:
            _, _, vol = infer_format(desc.lower())
        if not vol or vol <= 0:
            return None
    return js_round2(precio_unitario / vol)


# --- P15: category inference ---------------------------------------------------
_CATEGORIES: list[tuple[str, tuple[str, ...]]] = [
    ("lacteos", ("queso", "leche", "yogur", "mantequilla", "nata", "crema",
                 "stilton", "gouda", "brie", "alp blossom", "tres leches")),
    ("carnes", ("carne", "pollo", "cerdo", "ternera", "cordero", "jamón",
                "embutido", "pastrami", "lomo")),
    ("pescados", ("pescado", "merluza", "salmon", "gambas", "marisco",
                  "anchoa", "boquerón", "gildas")),
    ("verduras", ("verdura", "tomate", "lechuga", "gordal", "patatas", "patata")),
    ("frutas", ("fruta", "manzana", "naranja", "almendra", "almendras")),
    ("panaderia", ("pan", "harina", "pasta")),
    ("bebidas", ("cerveza", "vino", "refresco", "gin", "ron", "ginebra",
                 "heineken", "cruzcampo", "beefeater", "seagram",
                 "puerto de indias", "barcelo")),
    ("limpieza", ("limpieza", "detergente", "papel", "lejía", "jabón", "limpiador")),
    ("logistica", ("envio", "envío", "portes", "frio", "frío", "barril",
                   "caja", "cubitos", "hielo")),
    ("servicios", ("descuento", "mantenimiento", "gestión", "redes sociales", "merrychef")),
    ("condimentos", ("aceite", "vinagre", "sal", "pimienta", "especia", "condimento")),
]


# One compiled alternation per category: a single C-level scan replaces
# the ~8-18 per-key substring probes (plain-substring semantics preserved
# via re.escape). Category order still decides ties — first match wins.
_CATEGORY_RES: list[tuple[str, re.Pattern[str]]] = [
    (cat, re.compile("|".join(re.escape(k) for k in keys)))
    for cat, keys in _CATEGORIES
]


@functools.lru_cache(maxsize=8192)
def infer_category(description: str | None) -> str:
    if not description:
        return "general"
    d = description.lower()
    for cat, pat in _CATEGORY_RES:
        if pat.search(d):
            return cat
    return "general"


# --- P3: full-text product extraction (the line-level driver) --------------------
_MEAT_KW = re.compile(r"carne|meat|ternera|cerdo|pollo|beef|pork|chicken", _I)
_QTY_SHAPE = re.compile(r"\d+[,\.]?\d*\s*(kg|g|gramos?|kilogramos?|unidades?|uds?|piezas?)", _I)
_PRICE_SHAPE = re.compile(r"\d+[,\.]\d{2}\s*€|€\s*\d+[,\.]\d{2}", _I)
_HAS_DIGIT = re.compile(r"\d")
_HAS_WORD = re.compile(r"[a-záéíóúñ]{3,}", _I)


def extract_products(full_text: str | None, tipo_iva: int = 21) -> list[dict]:
    """P3 pipeline per document: line scan -> P4-P8 per product line ->
    P9 price closure -> P10/P11 format -> P13 €/kg,€/l -> P15 category."""
    productos: list[dict] = []
    if not full_text:
        return productos
    lines = [ln for ln in full_text.split("\n") if ln.strip()]
    for line in lines:
        t = line.strip()
        if len(t) <= 5:
            continue  # short lines are dropped whatever is_product says
        # Same OR of shape tests, cheap probes first: qty/price shapes both
        # need a digit, the price shape needs '€' — gate before scanning.
        has_digit = _HAS_DIGIT.search(t) is not None
        is_product = (
            (
                has_digit
                and (
                    _QTY_SHAPE.search(t) is not None
                    or ("€" in t and _PRICE_SHAPE.search(t) is not None)
                    or (len(t) > 15 and _HAS_WORD.search(t) is not None)
                )
            )
            or _MEAT_KW.search(t) is not None
        )
        if not is_product:
            continue
        norm = normalize_product_name(t)
        if len(norm) <= 3:
            continue
        p: dict = {
            "linea_numero": len(productos) + 1,
            "descripcion_original": t,
            "descripcion_normalizada": norm,
            "cantidad": extract_quantity(t),
            "precio_total_linea_sin_iva": extract_price(t),
            "precio_unitario_sin_iva": None,
            "precio_unitario_con_iva": None,
            "precio_total_linea_con_iva": None,
            "codigo_producto": extract_code(t),
            "unidad_medida": extract_unit(t),
            "tipo_iva": tipo_iva,
            "confianza_linea": 0.6,
        }
        if p["precio_total_linea_sin_iva"] and p["cantidad"] > 0:
            p["precio_unitario_sin_iva"] = (
                p["precio_total_linea_sin_iva"] / p["cantidad"]
            )
        p = fix_price_calculation(p)
        formato, peso, vol = extract_product_format(t)
        p["formato_comercial"] = formato
        p["peso_neto_kg"] = peso
        p["volumen_l"] = vol
        valido, razon = validate_format_range(peso, vol, t.lower())
        p["formato_valido"] = valido
        p["precio_por_kg"] = price_per_kg(p["precio_unitario_sin_iva"], peso, t)
        p["precio_por_litro"] = price_per_liter(p["precio_unitario_sin_iva"], vol, t)
        p["categoria"] = infer_category(t)
        productos.append(p)
    return productos
