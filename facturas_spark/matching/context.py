"""F10 — client-vs-supplier disambiguation (smartRestaurantFilter).

Reference: process-invoice/index.ts:281-341. Given a document text and the
own-entity context (the restaurant's CIF), decide whether the restaurant's
CIF appearing in the document means it is the *client* (correct) or is
being mis-extracted as the *supplier*.

Two forms:
- :func:`smart_restaurant_filter` — per-document pure-Python kernel,
  exact reference semantics (ordered-dedup CIF scan, indicator counts,
  recommendation states).
- :func:`restaurant_filter_expr` — the batch form: column expressions that
  broadcast-join the (tiny) own-entity dim against the corpus, so the
  whole check runs JVM-side at scale.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["smart_restaurant_filter", "with_restaurant_filter"]

_CIF_SCAN = re.compile(r"\b[A-Z]\d{8}\b|\b[A-Z]\d{7}[A-Z]\b|\b\d{8}[A-Z]\b")

PROVEEDOR_INDICATORS = [
    "FACTURA", "INVOICE", "EMISOR", "EMITE", "VENDEDOR", "PROVEEDOR",
    "DISTRIBUIDOR", "SUPPLIER", "VENDOR", "SELLER",
]
CLIENTE_INDICATORS = [
    "FACTURAR A", "CLIENTE", "DESTINATARIO", "ENVIAR A", "COMPRADOR",
    "BILL TO", "CUSTOMER", "RECIPIENT", "BUYER",
]


def smart_restaurant_filter(full_text: str, own_cif: str) -> dict:
    """Per-document kernel, exact reference rule order. Returns the context
    analysis: found CIFs (ordered dedup, JS ``[...new Set(...)]``),
    whether the own CIF appears, which CIF to exclude, indicator hits,
    and the recommendation state."""
    found = list(dict.fromkeys(_CIF_SCAN.findall(full_text or "")))
    has_own = own_cif in found
    upper = (full_text or "").upper()
    prov_hits = [i for i in PROVEEDOR_INDICATORS if i in upper]
    cli_hits = [i for i in CLIENTE_INDICATORS if i in upper]
    if has_own:
        if len(prov_hits) > len(cli_hits):
            rec = "restaurante_como_proveedor"  # mis-extraction warning
        else:
            rec = "restaurante_como_cliente"
    else:
        rec = "sin_confusion"
    return {
        "found_cifs": found,
        "has_restaurant_cif": has_own,
        "exclude_cif": own_cif if has_own else None,
        "proveedor_indicators": prov_hits,
        "cliente_indicators": cli_hits,
        "recomendacion": rec,
    }


def _indicator_count(text_upper: Column, indicators: list[str]) -> Column:
    out = F.lit(0)
    for ind in indicators:
        out = out + F.when(text_upper.contains(ind), 1).otherwise(0)
    return out


def with_restaurant_filter(
    docs: DataFrame, own_entities: DataFrame, text_col: str = "extracted_text"
) -> DataFrame:
    """Batch F10: broadcast-join the own-entity dim (restaurante_id, cif) and
    add found-CIF / indicator / recommendation columns — all built-ins.

    ``docs`` must carry ``restaurante_id`` to pick its own entity; at scale
    the dim is tiny (one row per tenant) and broadcasts."""
    text_upper = F.upper(F.col(text_col))
    found = F.array_distinct(
        F.regexp_extract_all(text_col, F.lit(_CIF_SCAN.pattern), 0)
    )
    prov = _indicator_count(text_upper, PROVEEDOR_INDICATORS)
    cli = _indicator_count(text_upper, CLIENTE_INDICATORS)
    joined = docs.join(F.broadcast(own_entities), "restaurante_id", "left")
    has_own = F.array_contains(found, F.col("cif"))
    return (
        joined.withColumn("found_cifs", found)
        .withColumn("has_restaurant_cif", F.coalesce(has_own, F.lit(False)))
        .withColumn(
            "exclude_cif", F.when(F.col("has_restaurant_cif"), F.col("cif"))
        )
        .withColumn("_prov_hits", prov)
        .withColumn("_cli_hits", cli)
        .withColumn(
            "recomendacion",
            F.when(
                F.col("has_restaurant_cif") & (F.col("_prov_hits") > F.col("_cli_hits")),
                "restaurante_como_proveedor",
            )
            .when(F.col("has_restaurant_cif"), "restaurante_como_cliente")
            .otherwise("sin_confusion"),
        )
        .drop("_prov_hits", "_cli_hits")
    )
