"""Pure-stdlib media codecs: REAL encode/decode with zero media libraries.

The container has no PIL/ffmpeg/librosa, but three public formats are fully
specified as plain byte layouts and need nothing beyond ``struct`` + ``zlib``
+ numpy, all of which ship here:

- **BMP** (Windows DIB, 24-bit uncompressed): fixed 54-byte header, BGR rows
  bottom-up, rows padded to 4 bytes.
- **PNG** (RFC 2083): signature + chunked layout; IHDR gives dims, IDAT is
  zlib-deflated scanlines with a per-row filter byte (we implement filters
  0-4 on decode, write filter 0 on encode).
- **WAV** (RIFF PCM): ``fmt `` chunk gives rate/channels/width, ``data``
  chunk is little-endian PCM samples.
- **Y4M** (YUV4MPEG2): plain-text header ``YUV4MPEG2 W.. H.. F..`` then
  ``FRAME\\n`` + raw planar YUV420 per frame — the standard uncompressed
  video interchange format (what ffmpeg pipes), trivially seekable:
  frame k starts at header_end + k * (6 + w*h*3//2).

No Spark query calls these codecs; they, ``jpeg.py``, ``gif.py`` and
``avi.py`` form a standalone decode library pinned by its own tests.

No reference-repo counterpart (the reference delegates decode to Google
Document AI — process-invoice/index.ts).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

__all__ = [
    "encode_bmp",
    "decode_bmp",
    "encode_png",
    "decode_png",
    "encode_wav",
    "decode_wav",
    "encode_y4m",
    "decode_y4m_header",
    "decode_y4m_frame",
    "sniff_media",
]


# ------------------------------------------------------------------- BMP --
def encode_bmp(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> 24-bit uncompressed BMP bytes."""
    h, w, _ = pixels.shape
    row_size = (w * 3 + 3) & ~3
    image_size = row_size * h
    header = struct.pack(
        "<2sIHHI" "IiiHHIIiiII",
        b"BM",
        54 + image_size,
        0,
        0,
        54,  # pixel data offset
        40,  # BITMAPINFOHEADER size
        w,
        h,
        1,  # planes
        24,  # bpp
        0,  # BI_RGB (uncompressed)
        image_size,
        2835,
        2835,
        0,
        0,
    )
    rows = np.zeros((h, row_size), dtype=np.uint8)
    # bottom-up rows, BGR order
    rows[:, : w * 3] = pixels[::-1, :, ::-1].reshape(h, w * 3)
    return header + rows.tobytes()


def decode_bmp(payload: bytes) -> np.ndarray:
    """BMP bytes -> (h, w, 3) uint8 RGB. Supports the 24-bit uncompressed
    layout this pipeline writes (the overwhelmingly common DIB form)."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP")
    offset = struct.unpack_from("<I", payload, 10)[0]
    hdr_size = struct.unpack_from("<I", payload, 14)[0]
    if hdr_size < 40:
        raise ValueError("unsupported BMP header")
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    comp = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, comp={comp})")
    flipped = h > 0
    h = abs(h)
    row_size = (w * 3 + 3) & ~3
    rows = np.frombuffer(payload, dtype=np.uint8, count=row_size * h, offset=offset)
    rows = rows.reshape(h, row_size)[:, : w * 3].reshape(h, w, 3)
    if flipped:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR -> RGB


# ------------------------------------------------------------------- PNG --
_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> PNG bytes (8-bit truecolor, filter 0)."""
    h, w, _ = pixels.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit, color type 2
    raw = b"".join(b"\x00" + pixels[y].tobytes() for y in range(h))
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def _unfilter(raw: np.ndarray, h: int, w: int, bpp: int) -> np.ndarray:
    """Undo PNG scanline filters (spec §6: None/Sub/Up/Average/Paeth)."""
    stride = w * bpp
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        ftype = raw[y * (stride + 1)]
        line = raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)].astype(np.int32)
        if ftype == 0:
            cur = line
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        else:  # Sub / Average / Paeth need the left neighbor: sequential
            cur = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                if ftype == 1:
                    cur[x] = (line[x] + a) & 0xFF
                elif ftype == 3:
                    cur[x] = (line[x] + ((a + b) >> 1)) & 0xFF
                elif ftype == 4:
                    c = prev[x - bpp] if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                    cur[x] = (line[x] + pred) & 0xFF
                else:
                    raise ValueError(f"bad PNG filter {ftype}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out


def decode_png(payload: bytes) -> np.ndarray:
    """PNG bytes -> (h, w, 3) uint8 RGB (8-bit truecolor, non-interlaced)."""
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, w, h, idat = 8, 0, 0, []
    while pos < len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            w, h, depth, ctype, _, _, interlace = struct.unpack(">IIBBBBB", body)
            if depth != 8 or ctype != 2 or interlace != 0:
                raise ValueError("unsupported PNG variant")
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
        pos += 12 + length
    raw = np.frombuffer(zlib.decompress(b"".join(idat)), dtype=np.uint8)
    return _unfilter(raw, h, w, 3).reshape(h, w, 3)


# ------------------------------------------------------------------- WAV --
def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """int16 mono PCM samples -> RIFF/WAVE bytes."""
    data = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE bytes -> (int16 mono samples, sample_rate). Walks the
    chunk list (fmt may not be first) per the RIFF spec."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV")
    pos, rate, channels, samples = 12, None, 1, None
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        (length,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + length]
        if tag == b"fmt ":
            audio_fmt, channels, rate = struct.unpack_from("<HHI", body, 0)
            bits = struct.unpack_from("<H", body, 14)[0]
            if audio_fmt != 1 or bits != 16:
                raise ValueError("unsupported WAV encoding")
        elif tag == b"data":
            samples = np.frombuffer(body, dtype="<i2")
        pos += 8 + length + (length & 1)  # chunks are word-aligned
    if rate is None or samples is None:
        raise ValueError("truncated WAV")
    if channels > 1:
        samples = samples.reshape(-1, channels).mean(axis=1).astype(np.int16)
    return samples, rate


# ------------------------------------------------------------------- Y4M --
def encode_y4m(frames: np.ndarray, fps: int) -> bytes:
    """(n, h, w) uint8 luma frames -> YUV4MPEG2 bytes (YUV420, neutral
    chroma planes)."""
    frames = np.ascontiguousarray(frames, dtype=np.uint8)
    n, h, w = frames.shape
    header = f"YUV4MPEG2 W{w} H{h} F{fps}:1 Ip A1:1 C420\n".encode()
    chroma = np.full((h // 2) * (w // 2) * 2, 128, dtype=np.uint8).tobytes()
    return header + b"".join(
        b"FRAME\n" + frames[i].tobytes() + chroma for i in range(n)
    )


def decode_y4m_header(payload: bytes) -> dict:
    """Parse the stream header -> {width, height, fps, n_frames,
    header_len, frame_len}."""
    end = payload.index(b"\n")
    fields = payload[:end].decode().split(" ")
    if fields[0] != "YUV4MPEG2":
        raise ValueError("not a Y4M stream")
    w = h = fps = None
    for f in fields[1:]:
        if f.startswith("W"):
            w = int(f[1:])
        elif f.startswith("H"):
            h = int(f[1:])
        elif f.startswith("F"):
            num, den = f[1:].split(":")
            fps = int(num) / int(den)
    # b"FRAME\n" + luma + 2 chroma planes subsampled 2x2 (floor division
    # matches the encoder; equals w*h*3/2 for the spec's even dims)
    frame_len = 6 + w * h + 2 * ((w // 2) * (h // 2))
    n_frames = (len(payload) - end - 1) // frame_len
    return {
        "width": w,
        "height": h,
        "fps": fps,
        "n_frames": n_frames,
        "header_len": end + 1,
        "frame_len": frame_len,
    }


def decode_y4m_frame(payload: bytes, meta: dict, k: int) -> np.ndarray:
    """Random-access decode of frame k's luma plane -> (h, w) uint8.
    Constant-time seek: frame k starts at header_len + k*frame_len."""
    w, h = meta["width"], meta["height"]
    start = meta["header_len"] + k * meta["frame_len"]
    if payload[start : start + 6] != b"FRAME\n":
        raise ValueError(f"bad frame marker at frame {k}")
    luma = np.frombuffer(payload, dtype=np.uint8, count=w * h, offset=start + 6)
    return luma.reshape(h, w)


# ------------------------------------------------------------------ sniff --
_MAGIC = [
    (b"\x00\x00\x00\x01", "video/h264"),  # Annex B start code
    (b"\x00\x00\x01", "video/h264"),
    (b"\x89PNG\r\n\x1a\n", "image/png"),
    (b"BM", "image/bmp"),
    (b"RIFF", "audio/wav"),  # refined below for RIFF containers
    (b"YUV4MPEG2", "video/y4m"),
    (b"%PDF", "application/pdf"),
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"GIF8", "image/gif"),
]


def sniff_media(payload: bytes) -> str:
    """Magic-byte MIME sniff for the codec set (S2 analogue for binary
    media; the reference's S2 sniffs text payloads — sources/io.py)."""
    if payload is None:
        return "application/octet-stream"
    head = bytes(payload[:16])
    if head[:4] == b"RIFF":
        sub = head[8:12]
        return {b"WAVE": "audio/wav", b"AVI ": "video/avi"}.get(
            sub, "application/riff"
        )
    for magic, mime in _MAGIC:
        if head.startswith(magic):
            return mime
    return "application/octet-stream"
