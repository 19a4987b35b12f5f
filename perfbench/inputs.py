"""Seeded input generators owned by the benchmark.

Every generator is a pure function of ``(seed, size)``: the same pair gives
byte-identical parquet.  Files are written with pyarrow, so generation needs
no Spark session and costs nothing inside the timed region.  Results are
cached on disk by ``(workload, seed, size)`` under the run's work directory;
only the newest few entries are kept.
"""

from __future__ import annotations

import os
import random
import shutil
from datetime import date

import pyarrow as pa
import pyarrow.parquet as pq

CACHE_KEEP = 6  # cached input sets kept per work dir


def cached(work_dir: str, workload: str, seed: int, size: int, build) -> str:
    """Return the directory holding ``build(dir, seed, size)``'s output,
    generating it once.  A ``_DONE`` marker makes a half-written entry
    (a run killed mid-generation) count as missing."""
    root = os.path.join(work_dir, "inputs")
    path = os.path.join(root, f"{workload}-s{seed}-n{size}")
    if not os.path.exists(os.path.join(path, "_DONE")):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        build(path, seed, size)
        open(os.path.join(path, "_DONE"), "w").close()
    _prune(root, keep=path)
    return path


def _prune(root: str, keep: str) -> None:
    entries = sorted(
        (os.path.join(root, n) for n in os.listdir(root)),
        key=os.path.getmtime,
        reverse=True,
    )
    for old in entries[CACHE_KEEP:]:
        if old != keep:
            shutil.rmtree(old, ignore_errors=True)


def _write(table: pa.Table, path: str, files: int) -> None:
    """Write ``table`` as ``files`` parquet part files under the directory
    ``path``, so the scan gets one split per file."""
    os.makedirs(path)
    step = -(-table.num_rows // files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:03d}.parquet"))


# ------------------------------------------------------------------ pages --
PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
PAGE_FILES = 16


def page_seed(seed: int) -> int:
    """Corpus seed handed to ``synth``: a function of the workload seed
    only, so two runs with one seed see the same pages."""
    return 1000 + seed


N_SUPPLIERS = 10  # synth's supplier pool


def select_pages(seed: int, n: int) -> list[int]:
    """Ids of ``n`` ``synth`` documents with a mix that does not depend on
    the seed: ``n / 10`` per supplier, of which three quarters invoices and
    one quarter delivery notes, half of each html-only.  Which documents,
    their text, amounts and hosts (Zipf-skewed) still follow the seed.  A
    fixed mix keeps the work a pass does, e.g. the same-supplier pairs the
    matcher scores, the same from seed to seed."""
    from facturas_spark.synth import gen_one

    per = n // N_SUPPLIERS
    if n % (8 * N_SUPPLIERS):
        raise ValueError(f"page count {n} is not a multiple of {8 * N_SUPPLIERS}")
    quota = {"factura": per * 3 // 8, "albaran": per // 8}  # per supplier and html/text
    left = {}
    ids, i = [], 0
    while len(ids) < n:
        d = gen_one(i, page_seed(seed))
        key = (d.exp_proveedor, d.doc_type, d.text is None)
        left.setdefault(key, quota[d.doc_type])
        if left[key] > 0:
            left[key] -= 1
            ids.append(i)
        i += 1
    return ids


def build_pages(path: str, seed: int, n: int) -> None:
    """``n`` crawled pages from ``synth.gen_corpus_slice`` in the mix of
    :func:`select_pages`, and their ids (``ids.txt``)."""
    from facturas_spark.synth import gen_corpus_slice

    ids = select_pages(seed, n)
    rows = gen_corpus_slice(ids, seed=page_seed(seed))
    cols = list(zip(*rows))
    table = pa.table([pa.array(c, type=f.type) for c, f in zip(cols, PAGES_SCHEMA)], schema=PAGES_SCHEMA)
    _write(table, os.path.join(path, "pages.parquet"), files=PAGE_FILES)
    with open(os.path.join(path, "ids.txt"), "w") as f:
        f.write("\n".join(map(str, ids)))


def golden_headers(path: str, seed: int) -> dict[str, tuple]:
    """url -> expected header fields, known by construction (the
    ``tests/test_golden.py`` invariant), of the pages ``build_pages`` wrote
    under ``path``."""
    from facturas_spark.synth import gen_one

    with open(os.path.join(path, "ids.txt")) as f:
        ids = [int(x) for x in f.read().split()]
    out = {}
    for i in ids:
        d = gen_one(i, page_seed(seed))
        out[d.url] = (
            d.doc_type,
            d.exp_proveedor,
            d.exp_cif,
            d.exp_numero,
            d.exp_fecha,
            d.exp_total,
            d.exp_base,
            d.exp_cuota,
            d.exp_tipo if d.doc_type == "factura" else None,
        )
    return out


# ---------------------------------------------------------- web corpus --
_VOCAB = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query a big key window join vector table "
    "stream row merge data customer the"
).split()
_LANGS = ["en", "en", "en", "en", "en", "es", "es", "fr", "de", "zh"]
CORPUS_FILES = 8


def _words(rng: random.Random) -> list[str]:
    n = 10 + int(rng.random() ** 2 * 110)
    return [rng.choice(_VOCAB) for _ in range(n)]


def corpus_texts(seed: int, n: int, n_sources: int) -> list[tuple]:
    """Web-corpus rows ``(doc_id, text, lang, source, n_chars)``: bag of
    words over a 30-word vocabulary, 10-120 words; 4% of docs repeat an
    earlier original exactly and 4% repeat one with a few words changed."""
    rng = random.Random(f"corpus:{seed}")
    originals: list[list[str]] = []
    rows = []
    for i in range(n):
        r = rng.random()
        if originals and r < 0.04:
            words = list(rng.choice(originals[-5000:]))
        elif originals and r < 0.08:
            words = list(rng.choice(originals[-5000:]))
            for _ in range(max(1, len(words) // 30)):
                words[rng.randrange(len(words))] = rng.choice(_VOCAB)
        else:
            words = _words(rng)
            originals.append(words)
        text = " ".join(words)
        rows.append((i, text, _LANGS[i % len(_LANGS)], f"src{i % n_sources}", len(text)))
    return rows


_DOCS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def build_corpus(path: str, seed: int, n: int) -> None:
    # 30 docs per source, so the quota stage (15 per source) keeps half
    cols = list(zip(*corpus_texts(seed, n, n_sources=max(1, n // 30))))
    table = pa.table([pa.array(c, type=f.type) for c, f in zip(cols, _DOCS_SCHEMA)], schema=_DOCS_SCHEMA)
    _write(table, os.path.join(path, "documents.parquet"), files=CORPUS_FILES)


# reference day for the matching windows (synth dates span 2024-01 .. 2025-12)
AS_OF = date(2025, 12, 31)
