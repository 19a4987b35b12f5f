"""Pure-stdlib baseline JPEG (ITU-T T.81) encoder + decoder.

Closes the largest multimodal-codec gap flagged in round 3: the sandbox
has no PIL/libjpeg, but baseline sequential JPEG is a fully public byte
format — nothing beyond ``struct`` + numpy is needed for a correct
(if unhurried) implementation:

- **decoder**: SOI/APPn/DQT/SOF0/DHT/DRI/SOS parse; canonical Huffman
  table reconstruction (Annex C); entropy decode with 0xFF00
  un-stuffing and RSTn handling; DC prediction + AC run-length/ZRL/EOB;
  dequantize -> de-zigzag -> 2-D IDCT (separable orthonormal DCT-III as
  one numpy matrix product per block batch); chroma upsample for any
  sampling factors up to 2x2 (4:4:4 / 4:2:2 / 4:2:0); YCbCr->RGB
  (JFIF full-range BT.601).
- **encoders** (fixture generators + roundtrip oracles): quality-scaled
  Annex-K quantization + Huffman tables, byte stuffing; baseline 4:4:4
  (gray + color, optional restart markers), baseline 4:2:0 (the camera
  MCU geometry), and progressive (spectral selection + successive
  approximation) — each pinned against the decoder, the progressive and
  4:2:0-neutral-chroma cases bit-identically.

The entropy loop is Python-per-symbol — fine for tests and small
inputs; at production scale libjpeg-turbo via PIL is the drop-in
(same contract as the other codecs in sources/codecs.py).
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = [
    "encode_jpeg",
    "encode_jpeg_progressive",
    "encode_jpeg_420",
    "decode_jpeg",
]

# ----------------------------------------------------------- shared tables
_ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10, 17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
])

# Annex K quantization tables (luminance, chrominance)
_QT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
_QT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

# Annex K standard Huffman tables: (bits[1..16], huffval)
_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
            list(range(12)))
_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
              list(range(12)))
_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
     0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
     0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
     0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
     0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
     0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
     0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
     0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
     0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
     0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
     0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
     0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)
_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
     0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
     0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
     0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
     0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
     0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
     0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
     0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
     0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
     0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
     0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
     0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
     0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
     0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)

# orthonormal 8-point DCT-II matrix: T @ x = DCT(x); T.T @ X = IDCT(X)
_k = np.arange(8)
_T = np.cos((2 * _k[None, :] + 1) * _k[:, None] * np.pi / 16) * np.sqrt(2 / 8)
_T[0, :] *= np.sqrt(0.5)


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per Annex C code assignment."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol, for the bit-serial decoder."""
    return {
        (ln, code): sym for sym, (code, ln) in _canonical_codes(bits, vals).items()
    }


# ------------------------------------------------------------------ encoder
class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._n += length
        while self._n >= 8:
            self._n -= 8
            b = (self._acc >> self._n) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)  # byte stuffing

    def flush(self) -> None:
        if self._n:
            pad = 8 - self._n
            self.write((1 << pad) - 1, pad)  # 1-fill per spec


def _magnitude(v: int) -> tuple[int, int]:
    """(size, value-bits) encoding of a signed coefficient."""
    if v == 0:
        return 0, 0
    a = abs(v)
    size = a.bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


def _scaled_qt(base: np.ndarray, quality: int) -> np.ndarray:
    quality = min(100, max(1, quality))
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (base * s + 50) // 100
    return np.clip(q, 1, 255)


def _encode_component(
    plane: np.ndarray, qt: np.ndarray, dc_codes, ac_codes, bw: _BitWriter, pred: int
) -> int:
    h, w = plane.shape
    for by in range(0, h, 8):
        for bx in range(0, w, 8):
            blk = plane[by : by + 8, bx : bx + 8].astype(np.float64) - 128.0
            coef = _T @ blk @ _T.T
            q = np.round(coef.ravel()[_ZIGZAG] / qt).astype(np.int64)
            # DC
            diff = int(q[0]) - pred
            pred = int(q[0])
            size, bits = _magnitude(diff)
            c, ln = dc_codes[size]
            bw.write(c, ln)
            if size:
                bw.write(bits, size)
            # AC with run-length / ZRL / EOB
            run = 0
            for i in range(1, 64):
                v = int(q[i])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    c, ln = ac_codes[0xF0]
                    bw.write(c, ln)
                    run -= 16
                size, bits = _magnitude(v)
                c, ln = ac_codes[(run << 4) | size]
                bw.write(c, ln)
                bw.write(bits, size)
                run = 0
            if run:
                c, ln = ac_codes[0x00]
                bw.write(c, ln)
    return pred


def encode_jpeg(
    pixels: np.ndarray, quality: int = 85, restart_interval: int = 0
) -> bytes:
    """Baseline JFIF encode. ``pixels``: (h, w, 3) uint8 RGB or (h, w)
    uint8 grayscale. 4:4:4 sampling (every component full-res).
    ``restart_interval`` > 0 emits a DRI segment and RSTn markers every
    N MCUs with DC-prediction resets (the error-resilience feature real
    camera JPEGs carry; roundtrip-pins the decoder's restart path)."""
    gray = pixels.ndim == 2
    h, w = pixels.shape[:2]
    qt_l = _scaled_qt(_QT_LUMA, quality)
    qt_c = _scaled_qt(_QT_CHROMA, quality)

    if gray:
        planes = [pixels.astype(np.float64)]
    else:
        rgb = pixels.astype(np.float64)
        r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        planes = [y, cb, cr]

    # pad each plane to multiples of 8 by edge replication
    ph, pw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    padded = [
        np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge") for p in planes
    ]

    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tid, qt in ((0, qt_l),) + (() if gray else ((1, qt_c),)):
        out += b"\xff\xdb" + struct.pack(">HB", 67, tid) + bytes(
            int(qt[z]) for z in range(64)
        )
    ncomp = 1 if gray else 3
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * ncomp, 8, h, w, ncomp)
    for cid in range(1, ncomp + 1):
        out += struct.pack("BBB", cid, 0x11, 0 if cid == 1 else 1)
    tables = [(0x00, _DC_LUMA), (0x10, _AC_LUMA)]
    if not gray:
        tables += [(0x01, _DC_CHROMA), (0x11, _AC_CHROMA)]
    for tc, (bits, vals) in tables:
        out += b"\xff\xc4" + struct.pack(">HB", 19 + len(vals), tc)
        out += bytes(bits) + bytes(vals)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)  # DRI
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * ncomp, ncomp)
    for cid in range(1, ncomp + 1):
        out += struct.pack("BB", cid, 0x00 if cid == 1 else 0x11)
    out += b"\x00\x3f\x00"

    bw = _BitWriter()
    dc_l = _canonical_codes(*_DC_LUMA)
    ac_l = _canonical_codes(*_AC_LUMA)
    dc_c = _canonical_codes(*_DC_CHROMA)
    ac_c = _canonical_codes(*_AC_CHROMA)
    # 4:4:4 interleaved MCU = one 8x8 block per component
    preds = [0] * ncomp
    mcu = 0
    for by in range(0, ph, 8):
        for bx in range(0, pw, 8):
            if restart_interval and mcu and mcu % restart_interval == 0:
                # close the entropy segment: pad, emit RSTn, reset DC preds
                bw.flush()
                out += bw.buf
                out += bytes([0xFF, 0xD0 + ((mcu // restart_interval - 1) % 8)])
                bw = _BitWriter()
                preds = [0] * ncomp
            for ci in range(ncomp):
                qt = qt_l if ci == 0 else qt_c
                dc = dc_l if ci == 0 else dc_c
                ac = ac_l if ci == 0 else ac_c
                blk = padded[ci][by : by + 8, bx : bx + 8]
                preds[ci] = _encode_component(blk, qt, dc, ac, bw, preds[ci])
            mcu += 1
    bw.flush()
    out += bw.buf
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ------------------------------------------------------------------ decoder
class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self._acc = 0
        self._n = 0

    def _fill(self) -> None:
        while self._n <= 24 and self.pos < len(self.data):
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos] if self.pos < len(self.data) else 0
                if nxt == 0x00:
                    self.pos += 1  # stuffed byte
                else:
                    # marker: rewind and stop feeding bits
                    self.pos -= 1
                    b = None
            if b is None:
                break
            self._acc = (self._acc << 8) | b
            self._n += 8

    def bit(self) -> int:
        if self._n == 0:
            self._fill()
            if self._n == 0:
                return 0  # past-end: spec says pad with 1s; 0 is safe here
        self._n -= 1
        return (self._acc >> self._n) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def align_to_marker(self) -> None:
        """Skip to just past the next RST marker."""
        self._acc = 0
        self._n = 0
        d = self.data
        while self.pos < len(d) - 1:
            if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1


def _extend(v: int, size: int) -> int:
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _huff_decode(br: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | br.bit()
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def _next_marker_pos(data: bytes, p: int) -> int:
    """First byte of the next real marker (not a stuffed 0xFF00, not RSTn)
    at or after p."""
    n = len(data)
    while p < n - 1:
        if data[p] == 0xFF and data[p + 1] != 0x00 and not (
            0xD0 <= data[p + 1] <= 0xD7
        ):
            return p
        p += 1
    return n


def _decode_scan(
    data: bytes,
    start: int,
    frame: dict,
    coeffs: list[np.ndarray],
    scan: list[tuple[int, int, int]],
    band: tuple[int, int, int, int],
    huff: dict,
    restart_interval: int,
) -> int:
    """Entropy-decode one scan (baseline or progressive) into the
    per-component coefficient state. Returns the absolute position of the
    marker that ends the scan."""
    Ss, Se, Ah, Al = band
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    fh, fw = frame["h"], frame["w"]
    mcus_x = (fw + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (fh + 8 * vmax - 1) // (8 * vmax)

    br = _BitReader(data[start:])
    preds = [0] * len(comps)
    eobrun = 0

    def dc_unit(ci: int, dct, blk) -> None:
        if Ah == 0:
            size = _huff_decode(br, dct)
            diff = _extend(br.bits(size), size) if size else 0
            preds[ci] += diff
            blk[0] = preds[ci] << Al
        else:
            if br.bit():
                blk[0] |= 1 << Al

    def ac_first(act, blk) -> None:
        nonlocal eobrun
        if eobrun > 0:
            eobrun -= 1
            return
        k = Ss if Ss else 1
        while k <= Se:
            rs = _huff_decode(br, act)
            r, size = rs >> 4, rs & 15
            if size == 0:
                if r != 15:
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += br.bits(r)
                    break
                k += 16
            else:
                k += r
                if k > 63:
                    raise ValueError("AC index overflow")
                blk[k] = _extend(br.bits(size), size) << Al
                k += 1

    def ac_refine(act, blk) -> None:
        # successive-approximation AC refinement (T.81 G.1.2.3; semantics
        # re-derived to match the libjpeg-documented behavior): a
        # correction bit is read for EVERY nonzero-history coefficient
        # visited; run lengths count only zero-history positions
        nonlocal eobrun
        p1 = 1 << Al
        k = Ss
        if eobrun == 0:
            while k <= Se:
                rs = _huff_decode(br, act)
                r, size = rs >> 4, rs & 15
                if size == 0 and r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += br.bits(r)
                    break
                val = 0
                if size:
                    val = p1 if br.bit() else -p1
                while k <= Se:
                    v = int(blk[k])
                    if v != 0:
                        if br.bit() and ((abs(v) >> Al) & 1) == 0:
                            blk[k] = v + (p1 if v > 0 else -p1)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if val and k <= Se:
                    blk[k] = val
                k += 1
            else:
                return  # band completed without EOB
        if eobrun > 0:
            while k <= Se:
                v = int(blk[k])
                if v != 0:
                    if br.bit() and ((abs(v) >> Al) & 1) == 0:
                        blk[k] = v + (p1 if v > 0 else -p1)
                k += 1
            eobrun -= 1

    def unit(ci: int, dc_id: int, ac_id: int, by: int, bx: int) -> None:
        blk = coeffs[ci][by, bx]
        if Ss == 0:
            dc_unit(ci, huff[(0, dc_id)], blk)
            if Se == 0:
                return
        if Ah == 0:
            ac_first(huff[(1, ac_id)], blk)
        else:
            ac_refine(huff[(1, ac_id)], blk)

    def restart() -> None:
        nonlocal eobrun
        br.align_to_marker()
        for i in range(len(preds)):
            preds[i] = 0
        eobrun = 0

    n_done = 0
    if len(scan) > 1 or (Ss == 0 and Se > 0 and len(comps) > 1):
        # interleaved: MCU = h x v blocks per scan component
        for my in range(mcus_y):
            for mx in range(mcus_x):
                if restart_interval and n_done and n_done % restart_interval == 0:
                    restart()
                for ci, dc_id, ac_id in scan:
                    c = comps[ci]
                    for v in range(c["v"]):
                        for hh in range(c["h"]):
                            unit(ci, dc_id, ac_id, my * c["v"] + v, mx * c["h"] + hh)
                n_done += 1
    else:
        # non-interleaved: units are the single component's blocks at its
        # OWN resolution (not the padded MCU grid)
        ci, dc_id, ac_id = scan[0]
        c = comps[ci]
        cw = (fw * c["h"] + hmax - 1) // hmax
        ch = (fh * c["v"] + vmax - 1) // vmax
        nbx, nby = (cw + 7) // 8, (ch + 7) // 8
        for by in range(nby):
            for bx in range(nbx):
                if restart_interval and n_done and n_done % restart_interval == 0:
                    restart()
                unit(ci, dc_id, ac_id, by, bx)
                n_done += 1
    return _next_marker_pos(data, start + br.pos)


def decode_jpeg(payload: bytes) -> np.ndarray:
    """JPEG decode -> (h, w, 3) uint8 RGB (grayscale replicates into 3
    channels). Handles baseline sequential (SOF0/1) AND progressive
    (SOF2: spectral selection + successive approximation, the libjpeg
    default script shape) with restart markers and sampling factors up
    to 2x2. Arithmetic-coded and hierarchical streams raise ValueError."""
    data = bytes(payload)
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    qts: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class, id) -> decode table
    frame = None
    restart_interval = 0
    coeffs: list[np.ndarray] | None = None

    while pos < len(data):
        if data[pos] != 0xFF:
            pos += 1
            continue
        marker = data[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        seglen = struct.unpack(">H", data[pos : pos + 2])[0]
        body = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                qts[tq] = np.frombuffer(body[i + 1 : i + 65], dtype=np.uint8).astype(
                    np.int64
                )
                i += 65
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            prec, fh, fw, nc = body[0], *struct.unpack(">HH", body[1:5]), body[5]
            if prec != 8:
                raise ValueError("only 8-bit precision")
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq})
            frame = {"h": fh, "w": fw, "comps": comps}
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("unsupported JPEG coding (lossless/arithmetic/hierarchical)")
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0xF
                bits = list(body[i + 1 : i + 17])
                nv = sum(bits)
                vals = list(body[i + 17 : i + 17 + nv])
                huff[(tc, th)] = _decode_table(bits, vals)
                i += 17 + nv
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", body[:2])[0]
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            if coeffs is None:
                hmax = max(c["h"] for c in frame["comps"])
                vmax = max(c["v"] for c in frame["comps"])
                mx = (frame["w"] + 8 * hmax - 1) // (8 * hmax)
                my = (frame["h"] + 8 * vmax - 1) // (8 * vmax)
                coeffs = [
                    np.zeros((my * c["v"], mx * c["h"], 64), dtype=np.int32)
                    for c in frame["comps"]
                ]
            ns = body[0]
            scan = []
            for s in range(ns):
                cs, tt = body[1 + 2 * s], body[2 + 2 * s]
                idx = next(
                    i for i, c in enumerate(frame["comps"]) if c["id"] == cs
                )
                scan.append((idx, tt >> 4, tt & 0xF))
            Ss, Se, ahal = body[1 + 2 * ns], body[2 + 2 * ns], body[3 + 2 * ns]
            band = (Ss, Se, ahal >> 4, ahal & 0xF)
            pos = _decode_scan(
                data, pos + seglen, frame, coeffs, scan, band, huff, restart_interval
            )
            continue
        pos += seglen

    if frame is None or coeffs is None:
        raise ValueError("truncated JPEG")

    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    fh, fw = frame["h"], frame["w"]

    full = []
    for c, zz in zip(comps, coeffs):
        qt = qts[c["tq"]]
        nby, nbx = zz.shape[0], zz.shape[1]
        deq = zz.astype(np.float64) * qt[None, None, :]
        nat = np.zeros_like(deq)
        nat[:, :, _ZIGZAG] = deq
        blocks = nat.reshape(nby, nbx, 8, 8)
        # batched separable IDCT: T.T @ X @ T over all blocks at once
        px = np.einsum("ij,abjk,kl->abil", _T.T, blocks, _T) + 128.0
        plane = px.transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)
        ch = (fh * c["v"] + vmax - 1) // vmax
        cw = (fw * c["h"] + hmax - 1) // hmax
        plane = plane[:ch, :cw]
        if c["v"] != vmax or c["h"] != hmax:
            plane = np.repeat(
                np.repeat(plane, vmax // c["v"], axis=0), hmax // c["h"], axis=1
            )
        full.append(plane[:fh, :fw])

    if len(full) == 1:
        y = np.clip(full[0], 0, 255).astype(np.uint8)
        return np.stack([y, y, y], axis=-1)
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255).astype(np.uint8)


# ------------------------------------------------------- progressive encoder
def _component_coeffs(plane: np.ndarray, qt: np.ndarray) -> np.ndarray:
    """(ph, pw) padded plane -> (nby, nbx, 64) zigzag-order quantized
    coefficients (same rounding as the baseline encoder)."""
    ph, pw = plane.shape
    nby, nbx = ph // 8, pw // 8
    out = np.zeros((nby, nbx, 64), dtype=np.int64)
    for by in range(nby):
        for bx in range(nbx):
            blk = plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
            coef = _T @ blk @ _T.T
            out[by, bx] = np.round(coef.ravel()[_ZIGZAG] / qt)
    return out


def encode_jpeg_progressive(pixels: np.ndarray, quality: int = 85) -> bytes:
    """Progressive JFIF encode (T.81 Annex G) with a 4-phase successive-
    approximation script: DC first at Al=1, DC refinement, per-component
    AC 1-63 first at Al=1, per-component AC refinement to Al=0. Uses the
    Annex-K Huffman tables, so EOB runs are emitted per block (the
    standard tables carry no EOBn symbols — libjpeg builds custom ones);
    the DECODER's EOB-run path is exercised by real libjpeg streams.

    Because every pass encodes the SAME quantized coefficients the
    baseline encoder produces, ``decode_jpeg(encode_jpeg_progressive(x))``
    is bit-identical to ``decode_jpeg(encode_jpeg(x))`` — the roundtrip
    oracle for the refinement machinery."""
    gray = pixels.ndim == 2
    h, w = pixels.shape[:2]
    qt_l = _scaled_qt(_QT_LUMA, quality)
    qt_c = _scaled_qt(_QT_CHROMA, quality)

    if gray:
        planes = [pixels.astype(np.float64)]
    else:
        rgb = pixels.astype(np.float64)
        r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ]
    ph, pw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    ncomp = len(planes)
    qts = [qt_l] + [qt_c] * (ncomp - 1)
    coeffs = [
        _component_coeffs(
            np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge"), qt
        )
        for p, qt in zip(planes, qts)
    ]
    nby, nbx = ph // 8, pw // 8

    out = bytearray()
    out += b"\xff\xd8"
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tid, qt in ((0, qt_l),) + (() if gray else ((1, qt_c),)):
        out += b"\xff\xdb" + struct.pack(">HB", 67, tid) + bytes(
            int(qt[z]) for z in range(64)
        )
    out += b"\xff\xc2" + struct.pack(">HBHHB", 8 + 3 * ncomp, 8, h, w, ncomp)
    for cid in range(1, ncomp + 1):
        out += struct.pack("BBB", cid, 0x11, 0 if cid == 1 else 1)
    tables = [(0x00, _DC_LUMA), (0x10, _AC_LUMA)]
    if not gray:
        tables += [(0x01, _DC_CHROMA), (0x11, _AC_CHROMA)]
    for tc, (bits, vals) in tables:
        out += b"\xff\xc4" + struct.pack(">HB", 19 + len(vals), tc)
        out += bytes(bits) + bytes(vals)

    dc_codes = [_canonical_codes(*_DC_LUMA)] + [
        _canonical_codes(*_DC_CHROMA)
    ] * (ncomp - 1)
    ac_codes = [_canonical_codes(*_AC_LUMA)] + [
        _canonical_codes(*_AC_CHROMA)
    ] * (ncomp - 1)

    def sos_header(comp_ids: list[int], Ss: int, Se: int, Ah: int, Al: int) -> bytes:
        ns = len(comp_ids)
        hdr = b"\xff\xda" + struct.pack(">HB", 6 + 2 * ns, ns)
        for cid in comp_ids:
            td = 0 if cid == 1 else 1
            hdr += struct.pack("BB", cid, (td << 4) | td)
        return hdr + struct.pack("BBB", Ss, Se, (Ah << 4) | Al)

    # --- scan 1: DC first, interleaved, Al=1 ---
    out += sos_header(list(range(1, ncomp + 1)), 0, 0, 0, 1)
    bw = _BitWriter()
    preds = [0] * ncomp
    for by in range(nby):
        for bx in range(nbx):
            for ci in range(ncomp):
                dc = int(coeffs[ci][by, bx, 0]) >> 1
                diff = dc - preds[ci]
                preds[ci] = dc
                size, bits_v = _magnitude(diff)
                c, ln = dc_codes[ci][size]
                bw.write(c, ln)
                if size:
                    bw.write(bits_v, size)
    bw.flush()
    out += bw.buf

    # --- scan 2: DC refinement, Al=0 (one raw bit per block) ---
    out += sos_header(list(range(1, ncomp + 1)), 0, 0, 1, 0)
    bw = _BitWriter()
    for by in range(nby):
        for bx in range(nbx):
            for ci in range(ncomp):
                bw.write(int(coeffs[ci][by, bx, 0]) & 1, 1)
    bw.flush()
    out += bw.buf

    # --- per component: AC first (Al=1) then AC refinement (Al=0) ---
    for ci in range(ncomp):
        out += sos_header([ci + 1], 1, 63, 0, 1)
        bw = _BitWriter()
        for by in range(nby):
            for bx in range(nbx):
                blk = coeffs[ci][by, bx]
                run = 0
                for k in range(1, 64):
                    v = int(blk[k])
                    a = abs(v) >> 1
                    if a == 0:
                        run += 1
                        continue
                    while run > 15:
                        c, ln = ac_codes[ci][0xF0]
                        bw.write(c, ln)
                        run -= 16
                    vv = a if v > 0 else -a
                    size, bits_v = _magnitude(vv)
                    c, ln = ac_codes[ci][(run << 4) | size]
                    bw.write(c, ln)
                    bw.write(bits_v, size)
                    run = 0
                if run:
                    c, ln = ac_codes[ci][0x00]  # unit EOB
                    bw.write(c, ln)
        bw.flush()
        out += bw.buf

        out += sos_header([ci + 1], 1, 63, 1, 0)
        bw = _BitWriter()
        for by in range(nby):
            for bx in range(nbx):
                blk = coeffs[ci][by, bx]
                # EOB = last newly-visible coefficient; zero runs beyond it
                # fold into the block's EOB instead of ZRLs (G.1.2.3 —
                # the decoder's ZRL walk only spans positions it will
                # actually visit before the next placed coefficient)
                eob = 0
                for k in range(1, 64):
                    if abs(int(blk[k])) == 1:
                        eob = k
                run = 0
                backlog: list[int] = []
                for k in range(1, 64):
                    v = int(blk[k])
                    a = abs(v)
                    if a == 0:
                        run += 1
                        continue
                    # flush pending ZRLs at ANY nonzero encounter (before
                    # buffering its correction bit) while a newly-visible
                    # coefficient still lies ahead
                    while run > 15 and k <= eob:
                        c, ln = ac_codes[ci][0xF0]
                        bw.write(c, ln)
                        for bit in backlog:
                            bw.write(bit, 1)
                        backlog = []
                        run -= 16
                    if a > 1:  # history-nonzero: buffered correction bit
                        backlog.append(a & 1)
                        continue
                    # newly visible (|v| == 1)
                    c, ln = ac_codes[ci][(run << 4) | 1]
                    bw.write(c, ln)
                    bw.write(1 if v > 0 else 0, 1)
                    for bit in backlog:
                        bw.write(bit, 1)
                    backlog = []
                    run = 0
                if run > 0 or backlog:
                    c, ln = ac_codes[ci][0x00]  # unit EOB closes the block
                    bw.write(c, ln)
                    for bit in backlog:
                        bw.write(bit, 1)
        bw.flush()
        out += bw.buf

    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_420(pixels: np.ndarray, quality: int = 85) -> bytes:
    """Baseline JFIF encode with 4:2:0 chroma subsampling (luma 2x2,
    chroma 1x1 — the MCU geometry virtually all camera/libjpeg color
    images use). Exists to roundtrip-pin the decoder's interleaved
    subsampled path: on a neutral-chroma (gray RGB) input the decode is
    bit-identical to the 4:4:4 encoder's, since the luma pipeline is
    the same and all chroma coefficients quantize to zero."""
    if pixels.ndim != 3:
        raise ValueError("encode_jpeg_420 expects (h, w, 3) RGB")
    h, w = pixels.shape[:2]
    qt_l = _scaled_qt(_QT_LUMA, quality)
    qt_c = _scaled_qt(_QT_CHROMA, quality)

    rgb = pixels.astype(np.float64)
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0

    # luma padded to 16-multiples (2x2 blocks per MCU); chroma = 2x2 box
    # mean of the padded luma grid, one 8x8 block per MCU
    ph, pw = (h + 15) // 16 * 16, (w + 15) // 16 * 16
    pad = lambda p: np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge")  # noqa: E731
    yp = pad(y)
    cbp = pad(cb).reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
    crp = pad(cr).reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))

    out = bytearray()
    out += b"\xff\xd8"
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tid, qt in ((0, qt_l), (1, qt_c)):
        out += b"\xff\xdb" + struct.pack(">HB", 67, tid) + bytes(
            int(qt[z]) for z in range(64)
        )
    out += b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, h, w, 3)
    out += struct.pack("BBB", 1, 0x22, 0)  # luma 2x2
    out += struct.pack("BBB", 2, 0x11, 1)
    out += struct.pack("BBB", 3, 0x11, 1)
    for tc, (bits, vals) in (
        (0x00, _DC_LUMA), (0x10, _AC_LUMA), (0x01, _DC_CHROMA), (0x11, _AC_CHROMA)
    ):
        out += b"\xff\xc4" + struct.pack(">HB", 19 + len(vals), tc)
        out += bytes(bits) + bytes(vals)
    out += b"\xff\xda" + struct.pack(">HB", 12, 3)
    out += struct.pack("BB", 1, 0x00) + struct.pack("BB", 2, 0x11) + struct.pack("BB", 3, 0x11)
    out += b"\x00\x3f\x00"

    bw = _BitWriter()
    dc_l, ac_l = _canonical_codes(*_DC_LUMA), _canonical_codes(*_AC_LUMA)
    dc_c, ac_c = _canonical_codes(*_DC_CHROMA), _canonical_codes(*_AC_CHROMA)
    preds = [0, 0, 0]
    for my in range(ph // 16):
        for mx in range(pw // 16):
            for v in range(2):
                for hh in range(2):
                    blk = yp[
                        (2 * my + v) * 8 : (2 * my + v) * 8 + 8,
                        (2 * mx + hh) * 8 : (2 * mx + hh) * 8 + 8,
                    ]
                    preds[0] = _encode_component(blk, qt_l, dc_l, ac_l, bw, preds[0])
            for ci, plane in ((1, cbp), (2, crp)):
                blk = plane[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8]
                preds[ci] = _encode_component(
                    blk, qt_c, dc_c, ac_c, bw, preds[ci]
                )
    bw.flush()
    out += bw.buf
    out += b"\xff\xd9"
    return bytes(out)
