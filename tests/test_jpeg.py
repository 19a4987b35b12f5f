"""Baseline JPEG codec tests (sources/jpeg.py)."""

from __future__ import annotations

import numpy as np
import pytest

from facturas_spark.sources.codecs import sniff_media
from facturas_spark.sources.jpeg import decode_jpeg, encode_jpeg


def _psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(float) - b.astype(float)) ** 2)
    return float("inf") if mse == 0 else 10 * np.log10(255.0**2 / mse)


def _gradient(h: int, w: int) -> np.ndarray:
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack(
        [xx * 255 // max(w - 1, 1), yy * 255 // max(h - 1, 1),
         (xx + yy) * 255 // max(h + w - 2, 1)], axis=-1
    ).astype(np.uint8)


def test_roundtrip_color_smooth():
    img = _gradient(40, 56)
    data = encode_jpeg(img, quality=90)
    assert data[:3] == b"\xff\xd8\xff" and data[-2:] == b"\xff\xd9"
    assert sniff_media(data) == "image/jpeg"
    out = decode_jpeg(data)
    assert out.shape == img.shape
    assert _psnr(out, img) > 38  # smooth content at q90 decodes cleanly


def test_roundtrip_non_multiple_of_8_dims():
    img = _gradient(33, 47)  # forces edge-padded partial blocks
    out = decode_jpeg(encode_jpeg(img, quality=92))
    assert out.shape == (33, 47, 3)
    assert _psnr(out, img) > 35


def test_roundtrip_grayscale():
    yy, xx = np.mgrid[0:24, 0:40]
    g = ((xx * 3 + yy * 5) % 256).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(g, quality=90))
    assert out.shape == (24, 40, 3)
    assert np.all(out[..., 0] == out[..., 1])  # gray replicates channels
    assert _psnr(out[..., 0], g) > 28


def test_quality_monotone():
    img = _gradient(32, 32)
    hi = len(encode_jpeg(img, quality=95))
    lo = len(encode_jpeg(img, quality=20))
    assert lo < hi  # lower quality compresses harder
    assert _psnr(decode_jpeg(encode_jpeg(img, 95)), img) >= _psnr(
        decode_jpeg(encode_jpeg(img, 20)), img
    )


def test_textured_content_degrades_not_explodes():
    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, (24, 24, 3)).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(img, quality=85))
    assert out.shape == img.shape
    assert _psnr(out, img) > 18  # noise is the JPEG worst case


def test_rejects_non_jpeg_and_truncated():
    with pytest.raises(ValueError):
        decode_jpeg(b"\x89PNG\r\n\x1a\nnotajpeg")
    # a progressive SOF2 header with no scan data is truncated, not valid
    bogus = b"\xff\xd8\xff\xc2\x00\x0b\x08\x00\x10\x00\x10\x01\x01\x11\x00"
    with pytest.raises(ValueError):
        decode_jpeg(bogus + b"\xff\xd9")
    # arithmetic-coded (SOF9) streams are explicitly unsupported
    arith = b"\xff\xd8\xff\xc9\x00\x0b\x08\x00\x10\x00\x10\x01\x01\x11\x00"
    with pytest.raises(ValueError):
        decode_jpeg(arith + b"\xff\xd9")


def test_avi_mjpeg_roundtrip_and_random_access():
    from facturas_spark.sources.avi import (
        decode_avi_frame,
        decode_avi_header,
        encode_avi_mjpeg,
    )
    from facturas_spark.sources.codecs import sniff_media

    yy, xx = np.mgrid[0:24, 0:32]
    frames = np.stack(
        [((xx * 3 + yy * 5 + 17 * i) % 256).astype(np.uint8) for i in range(6)]
    )
    data = encode_avi_mjpeg(frames, fps=2, quality=92)
    assert sniff_media(data) == "video/avi"
    m = decode_avi_header(data)
    assert (m["width"], m["height"], m["fps"], m["n_frames"]) == (32, 24, 2.0, 6)
    # random access: frame 4 decodes without touching frames 0-3
    f4 = decode_avi_frame(data, m, 4)
    assert f4.shape == (24, 32)
    assert float(np.abs(f4.astype(int) - frames[4].astype(int)).mean()) < 3.0
    with pytest.raises(ValueError):
        decode_avi_header(b"RIFF\x00\x00\x00\x00WAVE")


def test_progressive_identical_to_baseline():
    """Progressive and baseline encode the SAME quantized coefficients,
    so the decodes must match bit-for-bit — this is the ground-truth
    oracle for the successive-approximation machinery (DC shift+refine,
    AC spectral selection at Al=1, AC refinement correction bits, the
    jcphuff ZRL-before-correction-bit discipline)."""
    from facturas_spark.sources.jpeg import encode_jpeg_progressive

    rng = np.random.RandomState(11)
    yy, xx = np.mgrid[0:33, 0:47]
    structured = np.stack(
        [xx * 255 // 46, yy * 255 // 32, (xx + yy) * 127 // 78 + 64], axis=-1
    ).astype(np.uint8)
    structured = ((structured.astype(int) + rng.randint(0, 40, structured.shape)) % 256).astype(np.uint8)
    cases = [
        (structured, 85),
        (_gradient(40, 56), 90),
        (rng.randint(0, 256, (24, 40)).astype(np.uint8), 80),
        (rng.randint(0, 256, (29, 21, 3)).astype(np.uint8), 50),
    ]
    for img, q in cases:
        a = decode_jpeg(encode_jpeg(img, q))
        b = decode_jpeg(encode_jpeg_progressive(img, q))
        assert np.array_equal(a, b), (img.shape, q)


def test_gif_lzw_roundtrip():
    from facturas_spark.sources.gif import decode_gif, encode_gif
    from facturas_spark.sources.codecs import sniff_media

    rng = np.random.RandomState(5)
    g = rng.randint(0, 256, (37, 53)).astype(np.uint8)
    data = encode_gif(g)
    assert sniff_media(data) == "image/gif"
    out = decode_gif(data)
    assert np.array_equal(out[..., 0], g) and np.array_equal(out[..., 2], g)
    # limited palette color, exact
    pal = rng.randint(0, 256, (17, 3)).astype(np.uint8)
    img = pal[rng.randint(0, 17, (29, 41))]
    assert np.array_equal(decode_gif(encode_gif(img)), img)
    # large enough to exercise LZW code-width growth and clear codes
    big = rng.randint(0, 256, (120, 160)).astype(np.uint8)
    assert np.array_equal(decode_gif(encode_gif(big))[..., 0], big)
    with pytest.raises(ValueError):
        decode_gif(b"NOTAGIF")
    with pytest.raises(ValueError):
        encode_gif(rng.randint(0, 256, (40, 40, 3)).astype(np.uint8))  # >256 colors


def test_jpeg_restart_markers_roundtrip():
    """DRI/RSTn emission + decode: restart intervals of 1/2/5 MCUs must
    decode bit-identically to the plain stream (same coefficients; the
    decoder's marker-align + DC-prediction-reset path is exercised)."""
    yy, xx = np.mgrid[0:40, 0:56]
    img = np.stack(
        [xx * 4 % 256, yy * 6 % 256, (xx + yy) * 3 % 256], axis=-1
    ).astype(np.uint8)
    plain = decode_jpeg(encode_jpeg(img, 88))
    for ri in (1, 2, 5):
        data = encode_jpeg(img, 88, restart_interval=ri)
        assert b"\xff\xdd" in data and b"\xff\xd0" in data
        assert np.array_equal(decode_jpeg(data), plain)


def test_gif_interlaced_decode():
    """Interlace undo: hand-build a GIF89a with the interlace flag and
    rows stored in 4-pass order; decode must restore raster order."""
    import struct

    from facturas_spark.sources.gif import _lzw_encode, decode_gif

    rng = np.random.RandomState(9)
    h, w = 13, 7
    grid = rng.randint(0, 256, (h, w)).astype(np.uint8)
    order = (
        list(range(0, h, 8)) + list(range(4, h, 8))
        + list(range(2, h, 4)) + list(range(1, h, 2))
    )
    palette = np.stack([np.arange(256)] * 3, axis=1).astype(np.uint8)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
    out += palette.tobytes()
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0x40)  # interlaced
    out.append(8)
    data = _lzw_encode([int(v) for v in grid[order].ravel()], 8)
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    px = decode_gif(bytes(out))
    assert np.array_equal(px[..., 0], grid)


def test_420_subsampled_roundtrip():
    """4:2:0 interleaved geometry (the real-photo MCU layout): on a
    neutral-chroma (gray RGB) image all chroma coefficients quantize to
    zero, so the decode must be BIT-IDENTICAL to the 4:4:4 encoder's;
    color content decodes at high PSNR with the same shape."""
    from facturas_spark.sources.jpeg import encode_jpeg_420

    yy, xx = np.mgrid[0:40, 0:56]
    gray3 = np.repeat(((xx * 3 + yy * 5) % 256).astype(np.uint8)[..., None], 3, axis=-1)
    assert np.array_equal(
        decode_jpeg(encode_jpeg_420(gray3, 85)), decode_jpeg(encode_jpeg(gray3, 85))
    )
    img = _gradient(40, 56)
    out = decode_jpeg(encode_jpeg_420(img, 90))
    assert out.shape == img.shape and _psnr(out, img) > 35
    odd = np.ascontiguousarray(img[:33, :47])
    out2 = decode_jpeg(encode_jpeg_420(odd, 90))
    assert out2.shape == (33, 47, 3) and _psnr(out2, odd) > 33
