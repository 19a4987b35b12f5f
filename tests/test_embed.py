"""Deterministic hash-embedder tests (extraction/embed.py)."""

from __future__ import annotations

import numpy as np
import pytest

from facturas_spark.extraction.embed import (
    EMBED_DIM,
    embed_counts,
    embed_udf,
    embed_vector,
)


def test_embed_counts_deterministic_and_integer():
    a = embed_counts("Aceite de Oliva Virgen  Extra")
    b = embed_counts("aceite de oliva virgen extra")  # case/ws-normalized equal
    assert a.dtype == np.int64 and a.shape == (EMBED_DIM,)
    assert (a == b).all()
    # total gram mass: |sum of signs| <= n_grams, and counts sum of abs >= 1
    s = "aceite de oliva virgen extra"
    assert np.abs(a).sum() <= len(s) - 2


def test_embed_vector_normalized():
    v = embed_vector("garbanzo cocido categoria extra lata 3kg")
    assert v is not None and len(v) == EMBED_DIM
    assert abs(float(np.linalg.norm(v)) - 1.0) < 1e-5


def test_embed_vector_degenerate():
    assert embed_vector("") is None
    assert embed_vector(None) is None
    assert embed_vector("ab") is None  # fewer than 3 chars -> no grams


def test_embed_similarity_orders_sensibly():
    base = embed_vector("aceite de oliva virgen extra")
    near = embed_vector("aceite de oliva virgen")
    far = embed_vector("tornillo autorroscante m8 acero inoxidable")
    cos = lambda a, b: float(np.dot(a, b))  # noqa: E731
    assert cos(base, near) > cos(base, far)


def test_embed_products_wiring(spark):
    df = spark.createDataFrame(
        [(1, "aceite de oliva"), (2, "queso manchego curado"), (3, "")],
        "producto_id int, nombre string",
    )
    out = df.withColumn("embedding", embed_udf(df["nombre"])).collect()
    got = {r.producto_id: r.embedding for r in out}
    assert got[3] is None  # degenerate text -> NULL, reference skip semantics
    assert len(got[1]) == EMBED_DIM
    # driver-side kernel and the Spark column agree bit-for-bit
    assert got[1] == pytest.approx(embed_vector("aceite de oliva"))


def test_embed_properties_hypothesis():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(st.text(max_size=80))
    @settings(max_examples=120, deadline=None)
    def check(t):
        import numpy as np
        import re

        v = embed_counts(t)
        assert v.shape == (EMBED_DIM,) and v.dtype == np.int64
        # whitespace/case normalization invariance
        v2 = embed_counts("  " + t.upper().replace(" ", "\t ") + " ")
        norm = re.sub(r"\s+", " ", t.lower()).strip()
        norm2 = re.sub(r"\s+", " ", ("  " + t.upper().replace(" ", "\t ") + " ").lower()).strip()
        if norm == norm2:
            assert (v == v2).all()
        # total signed mass bounded by gram count
        assert int(np.abs(v).sum()) <= max(len(norm) - 2, 0)
        vec = embed_vector(t)
        if vec is not None:
            assert abs(float(np.linalg.norm(vec)) - 1.0) < 1e-5

    check()
