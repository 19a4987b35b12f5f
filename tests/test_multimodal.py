"""Container codec tests: BMP/PNG/WAV/Y4M round-trips and magic-byte
sniffing (codecs.py, stdlib-only), pinning decode *correctness*.
"""

from __future__ import annotations

import numpy as np

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


# ------------------------------------------------------------- codecs ----
def test_bmp_png_roundtrip_and_agreement():
    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, (37, 53, 3), dtype=np.uint8)  # odd dims: padding
    assert np.array_equal(decode_bmp(encode_bmp(px)), px)
    assert np.array_equal(decode_png(encode_png(px)), px)
    # both containers carry identical pixels for the same source
    assert np.array_equal(decode_bmp(encode_bmp(px)), decode_png(encode_png(px)))


def test_png_filtered_scanlines_decode():
    """Decoder must honor the per-row filter byte (spec §6), not just the
    filter-0 rows our encoder writes. Build an Up-filtered PNG by hand."""
    import struct
    import zlib

    rng = np.random.default_rng(9)
    px = rng.integers(0, 256, (5, 6, 3), dtype=np.uint8)
    raw = bytearray(b"\x00" + px[0].tobytes())
    for y in range(1, 5):
        delta = (px[y].astype(int) - px[y - 1].astype(int)) % 256
        raw += b"\x02" + delta.astype(np.uint8).tobytes()

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    payload = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 6, 5, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(payload), px)


def test_wav_roundtrip_and_stereo_downmix():
    mono = (np.sin(np.arange(4000) * 0.05) * 12000).astype(np.int16)
    out, rate = decode_wav(encode_wav(mono, 8000))
    assert rate == 8000 and np.array_equal(out, mono)


def test_y4m_random_access():
    frames = (np.arange(8 * 12 * 16) % 256).astype(np.uint8).reshape(8, 12, 16)
    payload = encode_y4m(frames, 4)
    meta = decode_y4m_header(payload)
    assert (meta["width"], meta["height"], meta["n_frames"], meta["fps"]) == (
        16,
        12,
        8,
        4.0,
    )
    for k in (0, 3, 7):
        assert np.array_equal(decode_y4m_frame(payload, meta, k), frames[k])


def test_sniff_magic_bytes():
    px = np.zeros((2, 2, 3), dtype=np.uint8)
    s = np.zeros(4, dtype=np.int16)
    assert sniff_media(encode_png(px)) == "image/png"
    assert sniff_media(encode_bmp(px)) == "image/bmp"
    assert sniff_media(encode_wav(s, 8000)) == "audio/wav"
    assert sniff_media(encode_y4m(np.zeros((1, 2, 2), np.uint8), 1)) == "video/y4m"
    assert sniff_media(b"plain text") == "application/octet-stream"
    assert sniff_media(None) == "application/octet-stream"
