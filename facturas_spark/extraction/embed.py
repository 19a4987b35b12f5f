"""Deterministic text embedder: hashed char-3-gram projection to 64 dims.

The reference generates product/document embeddings through the OpenAI
API at write time (process-invoice/index.ts:5370-5519) — excluded from
this engine by the determinism north rule. This module closes the same
loop (extract → embed → semantic search) with a network-free,
bit-reproducible feature hasher:

1. normalize: lower-case, collapse whitespace runs to single spaces, trim;
2. every overlapping char 3-gram ``g`` maps to one of 64 buckets via
   ``int(md5(g)[:4], 16) % 64`` with sign ``+1 if int(md5(g)[4], 16) < 8
   else -1`` (md5 family — portable to the DuckDB oracle, same trade as
   the MinHash band tables);
3. the PRE-normalization vector is a signed INTEGER count per bucket —
   every downstream stat over it (sum, sum of squares, argmax) is exact
   in both engines, no float-summation-order hazard;
4. the ANN-facing variant divides by the L2 norm -> float32 array(64),
   the same shape the synthetic ``embeddings.parquet`` feeds the
   existing ann_*/q15 paths.

The kernel is numpy inside the engine's Arrow batch surface (a
``pandas_udf`` over ``array<float>``), never per-row Python in the plan.

Scale: a pure map stage — fuses into the scan, no shuffle, no state;
at 100 TB this runs wherever the extraction UDF runs, one pass.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf

__all__ = [
    "EMBED_DIM",
    "embed_counts",
    "embed_vector",
    "embed_udf",
]

EMBED_DIM = 64
_WS = re.compile(r"\s+")


def _normalize(text: str | None) -> str:
    return _WS.sub(" ", (text or "").lower()).strip()


def embed_counts(text: str | None) -> np.ndarray:
    """Signed integer gram counts per bucket (pre-normalization)."""
    s = _normalize(text)
    v = np.zeros(EMBED_DIM, dtype=np.int64)
    for i in range(len(s) - 2):
        h = hashlib.md5(s[i : i + 3].encode("utf-8")).hexdigest()
        bucket = int(h[:4], 16) % EMBED_DIM
        v[bucket] += 1 if int(h[4], 16) < 8 else -1
    return v


def embed_vector(text: str | None) -> list[float] | None:
    """L2-normalized float32 embedding; None for texts with no 3-gram or
    a zero vector (all signs cancelled)."""
    v = embed_counts(text)
    norm = float(np.sqrt(np.dot(v, v)))
    if norm == 0.0:
        return None
    return (v.astype(np.float32) / np.float32(norm)).tolist()


def _embed_series(text: pd.Series) -> pd.Series:
    return text.map(embed_vector)


def embed_udf(col):
    """Column expression ``embedding = hash-embed(text)``. The pandas_udf
    wrapper is built at call time (driver side, session active) with a
    DataType object, so executors re-importing this module never need a
    live session to deserialize the closure."""
    from pyspark.sql.types import ArrayType, FloatType

    return pandas_udf(_embed_series, ArrayType(FloatType()))(col)
