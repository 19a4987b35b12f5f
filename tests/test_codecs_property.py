"""Property-based round-trip tests for the pure-stdlib media codecs.

Hypothesis drives arbitrary (small) pixel/sample arrays through
encode -> decode and asserts byte-exact recovery, and feeds junk to the
decoders and the extraction kernel to check they fail cleanly.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from facturas_spark.sources.codecs import (
    decode_bmp,
    decode_png,
    decode_wav,
    decode_y4m_frame,
    decode_y4m_header,
    encode_bmp,
    encode_png,
    encode_wav,
    encode_y4m,
    sniff_media,
)

dims = st.integers(min_value=1, max_value=24)


def _pixels(w: int, h: int, seed: int) -> np.ndarray:
    return np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)


@settings(max_examples=40, deadline=None)
@given(w=dims, h=dims, seed=st.integers(0, 2**31))
def test_bmp_roundtrip(w, h, seed):
    px = _pixels(w, h, seed)
    assert np.array_equal(decode_bmp(encode_bmp(px)), px)


@settings(max_examples=40, deadline=None)
@given(w=dims, h=dims, seed=st.integers(0, 2**31))
def test_png_roundtrip(w, h, seed):
    px = _pixels(w, h, seed)
    assert np.array_equal(decode_png(encode_png(px)), px)


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(min_value=0, max_value=500),
    rate=st.sampled_from([2000, 8000, 16000, 44100]),
    seed=st.integers(0, 2**31),
)
def test_wav_roundtrip(n, rate, seed):
    samples = (
        np.random.default_rng(seed).integers(-(2**15), 2**15, n).astype(np.int16)
    )
    out, out_rate = decode_wav(encode_wav(samples, rate))
    assert out_rate == rate and np.array_equal(out, samples)


@settings(max_examples=20, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=6),
    w=st.integers(min_value=1, max_value=12),
    h=st.integers(min_value=1, max_value=12),
    fps=st.integers(min_value=1, max_value=60),
    seed=st.integers(0, 2**31),
)
def test_y4m_roundtrip_every_frame(n, w, h, fps, seed):
    frames = np.random.default_rng(seed).integers(0, 256, (n, h, w), dtype=np.uint8)
    payload = encode_y4m(frames, fps)
    meta = decode_y4m_header(payload)
    assert (meta["width"], meta["height"], meta["n_frames"]) == (w, h, n)
    assert meta["fps"] == float(fps)
    for k in range(n):
        assert np.array_equal(decode_y4m_frame(payload, meta, k), frames[k])


@settings(max_examples=40, deadline=None)
@given(payload=st.binary(min_size=0, max_size=64))
def test_sniff_never_raises_and_unknown_is_octet_stream(payload):
    mime = sniff_media(payload)
    assert isinstance(mime, str) and "/" in mime
    known_magic = (
        b"\x89PNG\r\n\x1a\n",
        b"BM",
        b"RIFF",
        b"YUV4MPEG2",
        b"%PDF",
        b"\xff\xd8\xff",
        b"GIF8",
    )
    if not any(payload.startswith(m) for m in known_magic):
        assert mime == "application/octet-stream"


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


@settings(max_examples=40, deadline=None)
@given(payload=st.binary(min_size=0, max_size=300))
def test_image_decoders_raise_cleanly_on_garbage(payload):
    """Codec totality contract: garbage bytes either decode (if they
    accidentally form a valid header) or raise ValueError/struct.error —
    never an unbounded allocation or a foreign exception type."""
    import struct

    from facturas_spark.sources.codecs import decode_bmp, decode_png, decode_wav

    for dec in (decode_bmp, decode_png, decode_wav):
        try:
            dec(payload)
        except (ValueError, struct.error, IndexError, EOFError):
            pass
        except Exception as e:  # zlib garbage inside a valid PNG frame
            import zlib

            assert isinstance(e, zlib.error), (dec.__name__, type(e), e)


@given(st.binary(min_size=0, max_size=400))
@settings(max_examples=80, deadline=None)
def test_parser_fuzz_never_hangs(junk):
    """Every container parser must either parse or raise cleanly on
    arbitrary bytes behind its own magic — no hangs, no non-ValueError
    crashes leaking from the hot decode paths that matter (struct/index
    errors are normalized by the operator-level null-not-crash wrapper,
    but the parsers themselves must at least terminate)."""
    from facturas_spark.sources.avi import decode_avi_header
    from facturas_spark.sources.gif import decode_gif
    from facturas_spark.sources.jpeg import decode_jpeg
    from facturas_spark.sources.pdf import pdf_extract_text

    for magic, fn in (
        (b"\xff\xd8\xff", decode_jpeg),
        (b"GIF89a", decode_gif),
        (b"RIFF\x00\x00\x00\x00AVI ", decode_avi_header),
    ):
        try:
            fn(magic + junk)
        except Exception:
            pass  # any exception is fine; hanging or exiting is not
    # the PDF extractor contract is stronger: never raises
    assert isinstance(pdf_extract_text(b"%PDF-1.4" + junk), str)
