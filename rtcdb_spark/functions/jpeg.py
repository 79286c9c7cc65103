"""Pure-Python/numpy baseline JPEG codec (SURVEY §2 C-IX multimodal).

Round-4 capability: closes the last piece of the "compressed media is
env-blocked" gap for images. The container has no PIL/libjpeg, but baseline
sequential JPEG (ITU-T T.81) needs nothing beyond integer Huffman coding and
an 8x8 DCT — and numpy expresses the DCT as two 8x8 matrix multiplies. Both
directions are implemented from the public spec:

- ``make_jpeg``   — real, viewer-openable baseline JFIF files: level shift,
  forward DCT, Annex-K quantization tables (IJG quality scaling), zigzag,
  DPCM DC + run-length AC, the standard Annex-K Huffman tables, byte
  stuffing, SOI/DQT/SOF0/DHT/SOS/EOI marker layout. 4:4:4 colour (no
  chroma subsampling) or single-component grayscale.
- ``decode_jpeg`` — marker walk (DQT/SOF0/DHT/SOS, APPn/COM skipped),
  canonical Huffman reconstruction from BITS/HUFFVAL, entropy decode with
  stuffed-byte handling, dequantize, dezigzag, inverse DCT (matrix form),
  YCbCr→RGB, clamp, crop to the true image size.

Round 5 adds PROGRESSIVE mode (T.81 Annex G) in both directions:
``encode_jpeg_progressive`` serializes the same quantized coefficients as
a DC-first / per-component AC-first / DC-refinement / AC-refinement scan
script (spectral selection + successive approximation with Al=1), and
``decode_jpeg`` reassembles SOF2 streams scan by scan — including EOB
runs, ZRL-in-refinement, and correction-bit consumption — to the
bit-identical pixels of the baseline serialization (pinned by tests).
Restart markers are supported in both directions (round 5 wave 3:
``encode_jpeg(..., restart_interval=N)`` emits DRI + byte-aligned RSTm
every N MCUs with DC-predictor reset; the decoder consumes them in every
scan type, baseline and progressive — the hook that makes one huge JPEG
decodable in parallel restart segments), and 4:2:0 chroma subsampling in
both directions (``encode_jpeg_420``: 2x2-box-downsampled Cb/Cr, four
luma + two chroma blocks per 16x16 MCU — the dominant real-world layout;
the decoder handles the interleaved MCU order and box-upsamples chroma).
Round 6 closes the progressive+subsampling gate:
``encode_jpeg_progressive_420`` serializes the 4:2:0 coefficients with
the Annex-G scan script (interleaved MCU-order DC scans; per-component
non-interleaved AC scans over the TRUE block grid, skipping MCU padding
— T.81 A.2.2 vs A.2.3), and the decoder reassembles it bit-identically
to the baseline 4:2:0 decode. Arithmetic coding lives in
`functions/jpeg_arith.py` (round 7), lossless SOF3 in
`functions/jpeg_lossless.py` (round 7), hierarchical Annex-J pyramids in
`functions/jpeg_hierarchical.py` (round 8); sampling layouts other than
4:4:4 / 4:2:0 stay honestly gated with ``NotImplementedError``.

Scale: the codec runs inside Arrow-batched ``mapInPandas``
(`functions/multimodal.py`), embarrassingly parallel per payload —
identical plumbing to the BMP/PNG/WAV codecs. Entropy coding is a Python
loop per coefficient, so the per-image cost is O(pixels); the DCT and
quantization stages are whole-image numpy. Reference: the reference engine
(rtcdb) has no media handling at all (SURVEY §3) — this is north-star
surface for a 100 TB multimodal corpus.
"""

from __future__ import annotations

import functools
import math
import struct
from collections.abc import Mapping
from types import MappingProxyType

# --------------------------------------------------------------------------
# Tables (ITU-T T.81 Annex K — public spec)
# --------------------------------------------------------------------------

_QUANT_LUMA = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]
_QUANT_CHROMA = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]

# Annex K Huffman specs as (BITS[1..16], HUFFVAL). Encoder and decoder both
# derive their code tables from these via the canonical construction
# (T.81 C.2), so the emitted DHT segments round-trip by definition.
_DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUMA_VALS = list(range(12))
_DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHROMA_VALS = list(range(12))

_AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]
_AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]

for _bits, _vals in (
    (_DC_LUMA_BITS, _DC_LUMA_VALS),
    (_DC_CHROMA_BITS, _DC_CHROMA_VALS),
    (_AC_LUMA_BITS, _AC_LUMA_VALS),
    (_AC_CHROMA_BITS, _AC_CHROMA_VALS),
):
    assert sum(_bits) == len(_vals), "Huffman spec BITS/HUFFVAL mismatch"


def _zigzag_order() -> list[int]:
    """Return the 64-entry zigzag permutation (natural index per zigzag
    position), generated from the diagonal walk rather than hand-typed."""
    order = []
    for d in range(15):
        rng = range(d + 1)
        if d % 2 == 0:  # up-right diagonals run bottom-left → top-right
            rng = reversed(rng)
        for i in rng:
            j = d - i
            if i < 8 and j < 8:
                order.append(i * 8 + j)
    return order


_ZIGZAG = _zigzag_order()  # zigzag position -> natural (row-major) index
assert sorted(_ZIGZAG) == list(range(64))


def _frozen(a):
    """Mark a cached ndarray read-only: lru_cache hands the SAME object to
    every caller, so an in-place write would corrupt later images."""
    a.setflags(write=False)
    return a


@functools.lru_cache(maxsize=None)
def _zz64():
    """_ZIGZAG as a cached int64 numpy index array (read-only)."""
    import numpy as np

    return _frozen(np.array(_ZIGZAG, dtype=np.int64))


@functools.lru_cache(maxsize=None)
def _dct_matrix():
    """Orthonormal 8-point DCT-II matrix C; forward is C @ f @ C.T,
    inverse is C.T @ F @ C. Cached (round 13): the matrix is a pure
    constant, but the fixture images are tiny (<= 21x13 px), so per-image
    reconstruction dominated the codec rows' profile. The returned array
    is shared by every caller, so it is read-only."""
    import numpy as np

    c = np.zeros((8, 8), dtype=np.float64)
    for k in range(8):
        s = math.sqrt(1.0 / 8.0) if k == 0 else math.sqrt(2.0 / 8.0)
        for n in range(8):
            c[k, n] = s * math.cos((2 * n + 1) * k * math.pi / 16.0)
    return _frozen(c)


def _scaled_quant(base: list[int], quality: int):
    """IJG quality scaling of an Annex-K table (public libjpeg formula).
    Cached per (table, quality) — 3 qualities x 2 tables in the fixture
    corpus; the returned array is shared, so it is read-only."""
    return _scaled_quant_cached(tuple(base), quality)


@functools.lru_cache(maxsize=64)
def _scaled_quant_cached(base: tuple, quality: int):
    import numpy as np

    q = max(1, min(100, quality))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    t = (np.array(base, dtype=np.int64) * scale + 50) // 100
    return _frozen(np.clip(t, 1, 255).reshape(8, 8))


def _build_codes(bits: list[int], vals: list[int]) -> Mapping[int, tuple[int, int]]:
    """Canonical Huffman construction (T.81 C.2): symbol -> (code, length).
    Cached: encoders rebuild the four Annex-K tables per image, decoders
    rebuild them per DHT segment — a handful of distinct tables total.
    The returned mapping is shared, so it is read-only."""
    return _build_codes_cached(tuple(bits), tuple(vals))


@functools.lru_cache(maxsize=256)
def _build_codes_cached(bits: tuple, vals: tuple) -> Mapping[int, tuple[int, int]]:
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return MappingProxyType(codes)


class _BitWriter:
    """MSB-first bit accumulator with JPEG byte stuffing (FF -> FF 00)."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self._acc = 0
        self._nbits = 0

    def write(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._nbits += length
        while self._nbits >= 8:
            byte = (self._acc >> (self._nbits - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)
            self._nbits -= 8
        self._acc &= (1 << self._nbits) - 1

    def flush(self) -> None:
        if self._nbits:
            pad = 8 - self._nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec


def _magnitude(v: int) -> tuple[int, int]:
    """JPEG magnitude coding: value -> (category ssss, extra bits)."""
    if v == 0:
        return 0, 0
    ssss = int(abs(v)).bit_length()
    bits = v if v > 0 else v + (1 << ssss) - 1
    return ssss, bits


def _rgb_to_ycbcr(px):
    """JFIF full-range colour transform (floats; caller rounds)."""
    import numpy as np

    p = px.astype(np.float64)
    r, g, b = p[..., 0], p[..., 1], p[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(planes):
    import numpy as np

    y, cb, cr = (planes[..., i] for i in range(3))
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _to_blocks(plane):
    """(H, W) plane (already 8-padded) -> (n_blocks, 8, 8) in raster MCU
    order."""
    h, w = plane.shape
    return (
        plane.reshape(h // 8, 8, w // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )


def _from_blocks(blocks, h8: int, w8: int):
    return (
        blocks.reshape(h8 // 8, w8 // 8, 8, 8).transpose(0, 2, 1, 3).reshape(h8, w8)
    )


def _pad_replicate(plane, h8: int, w8: int):
    import numpy as np

    h, w = plane.shape
    out = np.empty((h8, w8), dtype=plane.dtype)
    out[:h, :w] = plane
    if w8 > w:
        out[:h, w:] = plane[:, w - 1 : w]
    if h8 > h:
        out[h:, :] = out[h - 1 : h, :]
    return out


# --------------------------------------------------------------------------
# Encoder
# --------------------------------------------------------------------------


def _compute_coefficients(pixels, quality: int):
    """Shared front half of every serialization mode: level shift, forward
    DCT, quantization, zigzag. Returns (gray, h, w, quants, plane_tbl,
    comp_coeffs) with comp_coeffs one (n_blocks, 64) int64 array per
    component in zigzag order — baseline and progressive scans serialize
    the SAME coefficients, which is what makes their decodes comparable
    bit-exactly in tests."""
    import numpy as np

    gray = pixels.ndim == 2
    h, w = pixels.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    h8, w8 = (h + 7) // 8 * 8, (w + 7) // 8 * 8

    if gray:
        planes = [pixels.astype(np.float64)]
        quants = [_scaled_quant(_QUANT_LUMA, quality)]
        plane_tbl = [0]
    else:
        ycc = _rgb_to_ycbcr(pixels)
        planes = [ycc[..., 0], ycc[..., 1], ycc[..., 2]]
        quants = [
            _scaled_quant(_QUANT_LUMA, quality),
            _scaled_quant(_QUANT_CHROMA, quality),
        ]
        plane_tbl = [0, 1, 1]

    cmat = _dct_matrix()
    zz = _zz64()
    comp_coeffs = []
    for plane, tbl in zip(planes, plane_tbl):
        padded = _pad_replicate(plane, h8, w8) - 128.0
        blocks = _to_blocks(padded)
        coeffs = np.einsum("ij,njk,lk->nil", cmat, blocks, cmat)
        q = np.round(coeffs / quants[tbl][None, :, :]).astype(np.int64)
        # zigzag-order every block once, vectorized
        comp_coeffs.append(q.reshape(-1, 64)[:, zz])
    return gray, h, w, quants, plane_tbl, comp_coeffs


def _header_bytes(
    h, w, gray, quants, plane_tbl, sof_marker: bytes, sampling=None
) -> bytes:
    """SOI + APP0/JFIF + DQT(s) + SOFx + DHT(s) — shared by the baseline
    and progressive serializers (progressive differs only in the SOF
    marker and its scan script)."""
    import numpy as np

    zz = _zz64()
    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tid, q in enumerate(quants):
        qz = q.reshape(-1)[zz]  # DQT payload is in zigzag order
        # values are 1..255 ints; uint8 tobytes == bytes(int(x) for x in qz)
        out += b"\xff\xdb" + struct.pack(">HB", 67, tid) + np.asarray(
            qz, dtype=np.uint8
        ).tobytes()
    ncomp = 1 if gray else 3
    if sampling is None:
        sampling = [0x11] * ncomp
    out += sof_marker + struct.pack(">HBHHB", 8 + 3 * ncomp, 8, h, w, ncomp)
    for ci in range(ncomp):
        out += struct.pack("BBB", ci + 1, sampling[ci], plane_tbl[ci])
    huff_specs = [(0x00, _DC_LUMA_BITS, _DC_LUMA_VALS), (0x10, _AC_LUMA_BITS, _AC_LUMA_VALS)]
    if not gray:
        huff_specs += [
            (0x01, _DC_CHROMA_BITS, _DC_CHROMA_VALS),
            (0x11, _AC_CHROMA_BITS, _AC_CHROMA_VALS),
        ]
    for tc_th, bits, vals in huff_specs:
        out += b"\xff\xc4" + struct.pack(">HB", 2 + 1 + 16 + len(vals), tc_th)
        out += bytes(bits) + bytes(vals)
    return bytes(out)


def encode_jpeg(pixels, quality: int = 90, restart_interval: int = 0) -> bytes:
    """Encode an (H, W, 3) RGB or (H, W) grayscale uint8 array as baseline
    sequential JFIF. Colour is 4:4:4 (every component full resolution) —
    one block per component per MCU.

    ``restart_interval`` > 0 emits a DRI segment and an RSTm marker every
    that many MCUs (T.81 B.2.4.4 / E.1.4): the bit stream byte-aligns and
    the DC predictors reset at each marker, making every restart segment
    independently decodable — the hook real pipelines use to decode one
    huge JPEG in parallel and to contain bit corruption."""
    import numpy as np

    gray, h, w, quants, plane_tbl, comp_coeffs = _compute_coefficients(
        pixels, quality
    )
    n_planes = 1 if gray else 3

    dc_codes = [_build_codes(_DC_LUMA_BITS, _DC_LUMA_VALS)]
    ac_codes = [_build_codes(_AC_LUMA_BITS, _AC_LUMA_VALS)]
    if not gray:
        dc_codes.append(_build_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS))
        ac_codes.append(_build_codes(_AC_CHROMA_BITS, _AC_CHROMA_VALS))
    comp_huff = [0] if gray else [0, 1, 1]

    bw = _BitWriter()
    pred = [0] * n_planes
    n_blocks = comp_coeffs[0].shape[0]
    for b in range(n_blocks):  # MCU loop: interleave one block per component
        if restart_interval and b and b % restart_interval == 0:
            bw.flush()  # byte-align, then the marker goes in unstuffed
            bw.buf += bytes([0xFF, 0xD0 + (b // restart_interval - 1) % 8])
            pred = [0] * n_planes  # DC predictors reset per segment
        for ci in range(n_planes):
            blk = comp_coeffs[ci][b]
            hi = comp_huff[ci]
            diff = int(blk[0]) - pred[ci]
            pred[ci] = int(blk[0])
            ssss, bits = _magnitude(diff)
            code, length = dc_codes[hi][ssss]
            bw.write(code, length)
            if ssss:
                bw.write(bits, ssss)
            run = 0
            nz = np.nonzero(blk[1:])[0]
            last = nz[-1] + 1 if len(nz) else 0
            for k in range(1, last + 1):
                v = int(blk[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, length = ac_codes[hi][0xF0]  # ZRL
                    bw.write(code, length)
                    run -= 16
                ssss, bits = _magnitude(v)
                code, length = ac_codes[hi][(run << 4) | ssss]
                bw.write(code, length)
                bw.write(bits, ssss)
                run = 0
            if last < 63:
                code, length = ac_codes[hi][0x00]  # EOB
                bw.write(code, length)
    bw.flush()

    ncomp = n_planes
    out = bytearray(
        _header_bytes(h, w, gray, quants, plane_tbl, sof_marker=b"\xff\xc0")
    )
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * ncomp, ncomp)
    for ci in range(ncomp):
        td_ta = comp_huff[ci] * 0x11  # same index for DC and AC tables
        out += struct.pack("BB", ci + 1, td_ta)
    out += b"\x00\x3f\x00"  # Ss=0, Se=63, Ah/Al=0
    out += bw.buf
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _compute_coefficients_420(pixels, quality: int):
    """Shared front half of the 4:2:0 serializers (baseline and — round 6
    — progressive): full-res luma, 2x2-box-downsampled chroma, DCT +
    quantize + zigzag. Both modes serialize these SAME coefficients, so
    their decodes compare bit-exactly in tests (the same sharing trick as
    ``_compute_coefficients`` for 4:4:4)."""
    import numpy as np

    if pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError("4:2:0 encoding needs an (H, W, 3) RGB array")
    h, w = pixels.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    h16, w16 = (h + 15) // 16 * 16, (w + 15) // 16 * 16

    ycc = _rgb_to_ycbcr(pixels)
    ypad = _pad_replicate(ycc[..., 0], h16, w16)
    cb = _pad_replicate(ycc[..., 1], h16, w16)
    cr = _pad_replicate(ycc[..., 2], h16, w16)
    # 2x2 box mean — the standard chroma downsample
    cbd = cb.reshape(h16 // 2, 2, w16 // 2, 2).mean(axis=(1, 3))
    crd = cr.reshape(h16 // 2, 2, w16 // 2, 2).mean(axis=(1, 3))

    quants = [
        _scaled_quant(_QUANT_LUMA, quality),
        _scaled_quant(_QUANT_CHROMA, quality),
    ]
    cmat = _dct_matrix()
    zz = _zz64()

    def coefs(plane, q):
        blocks = _to_blocks(plane - 128.0)
        c = np.einsum("ij,njk,lk->nil", cmat, blocks, cmat)
        return np.round(c / q[None, :, :]).astype(np.int64).reshape(-1, 64)[:, zz]

    return (
        h, w, h16, w16, quants,
        coefs(ypad, quants[0]), coefs(cbd, quants[1]), coefs(crd, quants[1]),
    )


def encode_jpeg_420(pixels, quality: int = 90, restart_interval: int = 0) -> bytes:
    """Encode an (H, W, 3) RGB uint8 array as baseline JFIF with 4:2:0
    chroma subsampling (T.81 A.2.3 — the dominant real-world layout): the
    luma plane keeps full resolution (sampling 2x2) while Cb/Cr are 2x2
    box-downsampled (sampling 1x1), so each 16x16-pixel MCU carries four
    Y blocks plus one Cb and one Cr block. ~2x fewer coefficient blocks
    than 4:4:4 at visually equivalent quality for natural images — the
    rate/quality trade every camera and web encoder ships by default.
    ``restart_interval`` works as in ``encode_jpeg`` (per 16x16 MCU)."""
    import numpy as np

    h, w, h16, w16, quants, ycoef, cbcoef, crcoef = _compute_coefficients_420(
        pixels, quality
    )

    dc_codes = [
        _build_codes(_DC_LUMA_BITS, _DC_LUMA_VALS),
        _build_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS),
    ]
    ac_codes = [
        _build_codes(_AC_LUMA_BITS, _AC_LUMA_VALS),
        _build_codes(_AC_CHROMA_BITS, _AC_CHROMA_VALS),
    ]

    bw = _BitWriter()
    pred = [0, 0, 0]
    mcux, mcuy = w16 // 16, h16 // 16
    yw = w16 // 8  # luma grid width in blocks
    cwid = w16 // 16  # chroma grid width in blocks

    def put_block(blk, hidx):
        diff = int(blk[0]) - pred[put_block.ci]
        pred[put_block.ci] = int(blk[0])
        ssss, bits = _magnitude(diff)
        code, length = dc_codes[hidx][ssss]
        bw.write(code, length)
        if ssss:
            bw.write(bits, ssss)
        import numpy as _np

        run = 0
        nz = _np.nonzero(blk[1:])[0]
        last = nz[-1] + 1 if len(nz) else 0
        for k in range(1, last + 1):
            v = int(blk[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, length = ac_codes[hidx][0xF0]
                bw.write(code, length)
                run -= 16
            ssss, bits = _magnitude(v)
            code, length = ac_codes[hidx][(run << 4) | ssss]
            bw.write(code, length)
            bw.write(bits, ssss)
            run = 0
        if last < 63:
            code, length = ac_codes[hidx][0x00]
            bw.write(code, length)

    for m in range(mcux * mcuy):
        if restart_interval and m and m % restart_interval == 0:
            bw.flush()
            bw.buf += bytes([0xFF, 0xD0 + (m // restart_interval - 1) % 8])
            pred = [0, 0, 0]
        r, c = divmod(m, mcux)
        for v in range(2):  # four luma blocks, row-major within the MCU
            for u in range(2):
                put_block.ci = 0
                put_block(ycoef[(2 * r + v) * yw + (2 * c + u)], 0)
        put_block.ci = 1
        put_block(cbcoef[r * cwid + c], 1)
        put_block.ci = 2
        put_block(crcoef[r * cwid + c], 1)
    bw.flush()

    out = bytearray(
        _header_bytes(
            h, w, False, quants, [0, 1, 1], sof_marker=b"\xff\xc0",
            sampling=[0x22, 0x11, 0x11],
        )
    )
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">HB", 12, 3)
    for ci, th in ((1, 0x00), (2, 0x11), (3, 0x11)):
        out += struct.pack("BB", ci, th)
    out += b"\x00\x3f\x00"
    out += bw.buf
    out += b"\xff\xd9"
    return bytes(out)


def _sos_header(comp_list: list[tuple[int, int]], ss: int, se: int, ah: int, al: int) -> bytes:
    """SOS marker segment: components as (component_id, TdTa byte)."""
    ns = len(comp_list)
    out = bytearray(b"\xff\xda" + struct.pack(">HB", 6 + 2 * ns, ns))
    for cid, tdta in comp_list:
        out += struct.pack("BB", cid, tdta)
    out += struct.pack("BBB", ss, se, (ah << 4) | al)
    return bytes(out)


def encode_jpeg_progressive(pixels, quality: int = 90) -> bytes:
    """Encode as PROGRESSIVE JFIF (SOF2, T.81 Annex G) using spectral
    selection AND successive approximation — the same quantized
    coefficients as ``encode_jpeg``, serialized as a four-stage scan
    script:

      1. DC first scan, interleaved, Al=1 (all DC bits except the LSB)
      2. one AC first scan per component, band 1..63, Al=1 (EOB-run coded)
      3. DC refinement scan, Ah=1→Al=0 (one raw bit per block)
      4. one AC refinement scan per component, Ah=1→Al=0 (correction bits
         for history coefficients, run-coded newly-significant ±1s)

    Because the coefficients are shared with the baseline path, decoding
    this stream MUST reproduce ``decode_jpeg(encode_jpeg(px))``
    bit-exactly — the property the tests pin."""
    gray, h, w, quants, plane_tbl, comp_coeffs = _compute_coefficients(
        pixels, quality
    )
    n_planes = 1 if gray else 3
    dc_codes = [_build_codes(_DC_LUMA_BITS, _DC_LUMA_VALS)]
    ac_codes = [_build_codes(_AC_LUMA_BITS, _AC_LUMA_VALS)]
    if not gray:
        dc_codes.append(_build_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS))
        ac_codes.append(_build_codes(_AC_CHROMA_BITS, _AC_CHROMA_VALS))
    comp_huff = [0] if gray else [0, 1, 1]
    n_blocks = comp_coeffs[0].shape[0]

    out = bytearray(
        _header_bytes(h, w, gray, quants, plane_tbl, sof_marker=b"\xff\xc2")
    )

    # -- scan 1: DC first, interleaved, Al=1 -------------------------------
    al = 1
    out += _sos_header(
        [(ci + 1, comp_huff[ci] << 4) for ci in range(n_planes)], 0, 0, 0, al
    )
    bw = _BitWriter()
    pred = [0] * n_planes
    for b in range(n_blocks):
        for ci in range(n_planes):
            v = int(comp_coeffs[ci][b][0]) >> al  # arithmetic shift (G.1.2.1)
            diff = v - pred[ci]
            pred[ci] = v
            ssss, bits = _magnitude(diff)
            code, length = dc_codes[comp_huff[ci]][ssss]
            bw.write(code, length)
            if ssss:
                bw.write(bits, ssss)
    bw.flush()
    out += bw.buf

    # -- scan 2: AC first per component, band 1..63, Al=1 ------------------
    for ci in range(n_planes):
        out += _sos_header([(ci + 1, comp_huff[ci])], 1, 63, 0, al)
        out += _encode_ac_first(comp_coeffs[ci], ac_codes[comp_huff[ci]], 1, 63, al)

    # -- scan 3: DC refinement, interleaved, Ah=1 Al=0 ---------------------
    out += _sos_header(
        [(ci + 1, comp_huff[ci] << 4) for ci in range(n_planes)], 0, 0, 1, 0
    )
    bw = _BitWriter()
    for b in range(n_blocks):
        for ci in range(n_planes):
            bw.write(int(comp_coeffs[ci][b][0]) & 1, 1)  # the withheld LSB
    bw.flush()
    out += bw.buf

    # -- scan 4: AC refinement per component, Ah=1 Al=0 --------------------
    for ci in range(n_planes):
        out += _sos_header([(ci + 1, comp_huff[ci])], 1, 63, 1, 0)
        out += _encode_ac_refine(comp_coeffs[ci], ac_codes[comp_huff[ci]], 1, 63, 0)

    out += b"\xff\xd9"  # EOI
    return bytes(out)


def encode_jpeg_progressive_420(pixels, quality: int = 90) -> bytes:
    """PROGRESSIVE + 4:2:0 (round 6 — closes the r5 honest gate on the
    combination): SOF2 with 2x2 luma sampling, the same quantized
    coefficients as ``encode_jpeg_420``, serialized as the four-stage
    Annex-G scan script of ``encode_jpeg_progressive``.

    The parts the combination adds over either feature alone (T.81 G.1 +
    A.2.3):

    - DC scans are INTERLEAVED and therefore walk MCUs — four luma blocks
      (row-major within the 16x16 MCU) then one Cb and one Cr per MCU,
      with per-component DPCM predictors across that order;
    - AC scans are per-component and NON-interleaved, covering only the
      component's TRUE block grid (ceil(comp_dim/8)) in the component's
      own raster order — NOT the MCU-padded storage grid, which for 2x2
      luma can hold a whole extra block row/column that interleaved scans
      encode but non-interleaved scans must skip (T.81 A.2.2 vs A.2.3).

    Sharing coefficients with the baseline 4:2:0 path makes
    ``decode_jpeg`` of this stream bit-identical to the baseline 4:2:0
    decode — the property the tests pin."""
    h, w, h16, w16, quants, ycoef, cbcoef, crcoef = _compute_coefficients_420(
        pixels, quality
    )
    dc_codes = [
        _build_codes(_DC_LUMA_BITS, _DC_LUMA_VALS),
        _build_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS),
    ]
    ac_codes = [
        _build_codes(_AC_LUMA_BITS, _AC_LUMA_VALS),
        _build_codes(_AC_CHROMA_BITS, _AC_CHROMA_VALS),
    ]
    comp_arrays = [ycoef, cbcoef, crcoef]
    comp_huff = [0, 1, 1]
    mcux, mcuy = w16 // 16, h16 // 16
    yw, cw = w16 // 8, w16 // 16

    def mcu_blocks():
        """(component, storage index) in interleaved MCU order."""
        for m in range(mcux * mcuy):
            r, c = divmod(m, mcux)
            for v in range(2):
                for u in range(2):
                    yield 0, (2 * r + v) * yw + (2 * c + u)
            yield 1, r * cw + c
            yield 2, r * cw + c

    # Non-interleaved AC scans cover the TRUE component grid only.
    ch2, cw2 = (h + 1) // 2, (w + 1) // 2  # chroma true resolution
    y_idx = [
        r * yw + c
        for r in range((h + 7) // 8)
        for c in range((w + 7) // 8)
    ]
    c_idx = [
        r * cw + c
        for r in range((ch2 + 7) // 8)
        for c in range((cw2 + 7) // 8)
    ]
    blocklists = [
        [ycoef[i] for i in y_idx],
        [cbcoef[i] for i in c_idx],
        [crcoef[i] for i in c_idx],
    ]

    out = bytearray(
        _header_bytes(
            h, w, False, quants, [0, 1, 1], sof_marker=b"\xff\xc2",
            sampling=[0x22, 0x11, 0x11],
        )
    )

    # -- scan 1: DC first, interleaved MCU order, Al=1 ----------------------
    al = 1
    out += _sos_header(
        [(ci + 1, comp_huff[ci] << 4) for ci in range(3)], 0, 0, 0, al
    )
    bw = _BitWriter()
    pred = [0, 0, 0]
    for ci, bidx in mcu_blocks():
        v = int(comp_arrays[ci][bidx][0]) >> al  # arithmetic shift (G.1.2.1)
        diff = v - pred[ci]
        pred[ci] = v
        ssss, bits = _magnitude(diff)
        code, length = dc_codes[comp_huff[ci]][ssss]
        bw.write(code, length)
        if ssss:
            bw.write(bits, ssss)
    bw.flush()
    out += bw.buf

    # -- scan 2: AC first per component, true grid, Al=1 --------------------
    for ci in range(3):
        out += _sos_header([(ci + 1, comp_huff[ci])], 1, 63, 0, al)
        out += _encode_ac_first(blocklists[ci], ac_codes[comp_huff[ci]], 1, 63, al)

    # -- scan 3: DC refinement, interleaved MCU order, Ah=1 Al=0 ------------
    out += _sos_header(
        [(ci + 1, comp_huff[ci] << 4) for ci in range(3)], 0, 0, 1, 0
    )
    bw = _BitWriter()
    for ci, bidx in mcu_blocks():
        bw.write(int(comp_arrays[ci][bidx][0]) & 1, 1)
    bw.flush()
    out += bw.buf

    # -- scan 4: AC refinement per component, true grid, Ah=1 Al=0 ----------
    for ci in range(3):
        out += _sos_header([(ci + 1, comp_huff[ci])], 1, 63, 1, 0)
        out += _encode_ac_refine(blocklists[ci], ac_codes[comp_huff[ci]], 1, 63, 0)

    out += b"\xff\xd9"
    return bytes(out)


def _encode_ac_first(coeffs, ac_tbl, ss: int, se: int, al: int) -> bytes:
    """AC first scan body (T.81 G.1.2.2): run-length + VLI coding of the
    point-transformed band. End-of-band is coded as EOB0 per block (run
    length 1) so the standard Annex-K tables suffice — EOBn (n>0) symbols
    need custom Huffman tables, which real encoders train per image; the
    DECODER handles full EOB runs (unit-tested with a crafted stream)."""
    bw = _BitWriter()
    for blk in coeffs:
        run = 0
        wrote = False
        for k in range(ss, se + 1):
            v = int(blk[k])
            t = abs(v) >> al  # point transform truncates magnitude
            if t == 0:
                run += 1
                continue
            while run > 15:
                code, length = ac_tbl[0xF0]  # ZRL
                bw.write(code, length)
                run -= 16
            s = t if v > 0 else -t
            ssss, bits = _magnitude(s)
            code, length = ac_tbl[(run << 4) | ssss]
            bw.write(code, length)
            bw.write(bits, ssss)
            run = 0
            wrote = True
        if run > 0 or not wrote:
            code, length = ac_tbl[0x00]  # EOB0: band ends here
            bw.write(code, length)
    bw.flush()
    return bytes(bw.buf)


def _encode_ac_refine(coeffs, ac_tbl, ss: int, se: int, al: int) -> bytes:
    """AC refinement scan body (T.81 G.1.2.3): correction bits for
    coefficients already significant at the prior precision, run-coded
    newly-significant ±1 values. As in ``_encode_ac_first``, end-of-band
    is EOB0 per block (standard tables); the block's owed correction bits
    follow its own EOB0 — exactly where the decoder's EOB-run consumer
    reads them."""
    bw = _BitWriter()
    for blk in coeffs:
        band = [int(blk[k]) for k in range(ss, se + 1)]
        absvals = [abs(v) >> al for v in band]
        n = len(band)
        new_positions = [i for i, t in enumerate(absvals) if t == 1]
        pos = 0  # next band index the decoder's walk will visit

        def emit_bits_until(stop: int, max_zeros: int | None = None) -> int:
            """Mirror the decoder's walk from `pos` up to (exclusive)
            `stop` or until `max_zeros` zero-history positions have been
            consumed: history coefficients emit their correction bit,
            zeros count down. Returns the new walk position."""
            nonlocal pos
            zeros = 0
            while pos < (stop if stop is not None else n):
                t = absvals[pos]
                if t == 0:
                    zeros += 1
                    if max_zeros is not None and zeros == max_zeros:
                        pos += 1
                        return pos
                elif t > 1:
                    bw.write(t & 1, 1)
                pos += 1
            return pos

        for p in new_positions:
            r = sum(1 for i in range(pos, p) if absvals[i] == 0)
            while r > 15:
                code, length = ac_tbl[0xF0]
                bw.write(code, length)
                emit_bits_until(p, max_zeros=16)
                r -= 16
            code, length = ac_tbl[(r << 4) | 1]
            bw.write(code, length)
            bw.write(1 if band[p] >= 0 else 0, 1)
            emit_bits_until(p)  # history bits the decoder passes en route
            pos = p + 1
        if pos < n and (
            any(t == 0 for t in absvals[pos:]) or any(t > 1 for t in absvals[pos:])
        ):
            # band tail: EOB0 ends this block; the decoder's EOB-run
            # consumer then reads a correction bit at every remaining
            # history coefficient
            code, length = ac_tbl[0x00]
            bw.write(code, length)
            emit_bits_until(n)
    bw.flush()
    return bytes(bw.buf)


def make_jpeg(width: int, height: int, seed: int, gray: bool = False, quality: int = 90) -> bytes:
    """Deterministic synthetic JPEG: per-8x8-block planar gradients (the
    sawtooth period is 8, so every block interior is an exact plane — the
    shape JPEG encodes almost losslessly), giving tight, provable
    round-trip error bounds for the decode oracle."""
    import numpy as np

    base = 32 + (seed * 37) % 64
    ax = 1 + seed % 3
    by = 1 + seed % 5
    x = np.arange(width, dtype=np.int64) % 8
    y = np.arange(height, dtype=np.int64) % 8
    plane = base + ax * x[None, :] + by * y[:, None]
    if gray:
        return encode_jpeg(plane.astype(np.uint8), quality=quality)
    px = np.stack([plane + 9 * c for c in range(3)], axis=-1)
    return encode_jpeg(px.astype(np.uint8), quality=quality)


def synth_pixels(width: int, height: int, seed: int, gray: bool = False):
    """The exact source pixels ``make_jpeg`` encodes (for error bounds)."""
    import numpy as np

    base = 32 + (seed * 37) % 64
    ax = 1 + seed % 3
    by = 1 + seed % 5
    x = np.arange(width, dtype=np.int64) % 8
    y = np.arange(height, dtype=np.int64) % 8
    plane = base + ax * x[None, :] + by * y[:, None]
    if gray:
        return plane.astype(np.uint8)
    return np.stack([plane + 9 * c for c in range(3)], axis=-1).astype(np.uint8)


# --------------------------------------------------------------------------
# Decoder
# --------------------------------------------------------------------------


class _BitReader:
    """MSB-first bit reader over the entropy-coded segment, honouring byte
    stuffing (FF 00 -> literal FF) and stopping at any real marker."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self._acc = 0
        self._nbits = 0

    def read_bit(self) -> int:
        if self._nbits == 0:
            if self.pos >= len(self.data):
                raise ValueError("truncated entropy stream")
            byte = self.data[self.pos]
            self.pos += 1
            if byte == 0xFF:
                nxt = self.data[self.pos] if self.pos < len(self.data) else 0xD9
                if nxt == 0x00:
                    self.pos += 1
                else:
                    raise ValueError("unexpected marker inside entropy stream")
            self._acc = byte
            self._nbits = 8
        self._nbits -= 1
        return (self._acc >> self._nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def sync_restart(self, seq: int) -> None:
        """Consume an expected RSTm marker (T.81 E.2.4): discard the
        partial byte's pad bits, then the two marker bytes must be
        FF D0+(seq mod 8)."""
        self._acc = 0
        self._nbits = 0
        if self.pos + 2 > len(self.data):
            raise ValueError("truncated stream at restart marker")
        if self.data[self.pos] != 0xFF or self.data[self.pos + 1] != 0xD0 + (seq % 8):
            raise ValueError(
                f"expected RST{seq % 8} at byte {self.pos}, got "
                f"{self.data[self.pos:self.pos + 2].hex()}"
            )
        self.pos += 2


def _extend(v: int, ssss: int) -> int:
    """T.81 F.2.2.1 EXTEND: map magnitude bits back to a signed value."""
    if ssss == 0:
        return 0
    return v if v >= (1 << (ssss - 1)) else v - (1 << ssss) + 1


@functools.lru_cache(maxsize=256)
def _decode_table(bits: tuple, vals: tuple) -> Mapping[tuple[int, int], int]:
    """(length, code) -> symbol decode map for one DHT table, cached by
    the table's BITS/HUFFVAL content (shared, so read-only)."""
    codes = _build_codes_cached(bits, vals)
    return MappingProxyType(
        {(length, code): sym for sym, (code, length) in codes.items()}
    )


def _decode_huffman(reader: _BitReader, table: Mapping[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def _next_marker(payload: bytes, pos: int) -> int:
    """Position of the next real marker (FF xx, xx not 00/FF) at or after
    ``pos`` — how a multi-scan decoder finds the end of an entropy-coded
    segment."""
    n = len(payload)
    while pos < n - 1:
        if payload[pos] == 0xFF and payload[pos + 1] not in (0x00, 0xFF):
            return pos
        pos += 1
    raise ValueError("ran off the end looking for a marker")


def _decode_scan_baseline(
    reader, coeffs, scan_idx, dc_tbls, ac_tbls, dri=0,
    samp=None, mcu_dims=None, grid_w=None,
):
    """Sequential scan: DC diff + full AC band per block, interleaved in
    MCU order. With subsampling, each MCU carries Hi x Vi blocks per
    component (T.81 A.2.3), placed row-major into the component's block
    grid. ``dri`` > 0: an RSTm marker is consumed (and DC predictors
    reset) every that many MCUs."""
    n_comp = len(scan_idx)
    if samp is None:
        samp = [(1, 1)] * n_comp
        n_blocks = coeffs[scan_idx[0]].shape[0]
        mcu_dims = (n_blocks, 1)  # one block per MCU, linear layout
        grid_w = [1] * n_comp
    n_mcux = mcu_dims[1]
    n_mcus = mcu_dims[0] * mcu_dims[1]
    pred = [0] * n_comp
    for m in range(n_mcus):
        if dri and m and m % dri == 0:
            reader.sync_restart(m // dri - 1)
            pred = [0] * n_comp
        r, c = divmod(m, n_mcux)
        for si, ci in enumerate(scan_idx):
            hi, vi = samp[si]
            for v in range(vi):
                for u in range(hi):
                    bidx = (r * vi + v) * grid_w[si] + (c * hi + u)
                    blk = coeffs[ci][bidx]
                    ssss = _decode_huffman(reader, dc_tbls[si])
                    diff = _extend(reader.receive(ssss), ssss)
                    pred[si] += diff
                    blk[0] = pred[si]
                    k = 1
                    while k < 64:
                        sym = _decode_huffman(reader, ac_tbls[si])
                        if sym == 0x00:  # EOB
                            break
                        run, ssss = sym >> 4, sym & 0x0F
                        if ssss == 0:
                            if run != 15:
                                raise ValueError("bad AC symbol")
                            k += 16  # ZRL
                            continue
                        k += run
                        if k > 63:
                            raise ValueError("AC coefficient index overflow")
                        blk[k] = _extend(reader.receive(ssss), ssss)
                        k += 1


def _decode_scan_dc_first(
    reader, coeffs, scan_idx, dc_tbls, al, dri=0,
    samp=None, mcu_dims=None, grid_w=None,
):
    """Progressive DC first scan — interleaved, so with subsampling it
    walks MCUs placing Hi x Vi blocks per component (same layout rule as
    the sequential scan, T.81 A.2.3)."""
    if samp is None:
        samp = [(1, 1)] * len(scan_idx)
        mcu_dims = (coeffs[scan_idx[0]].shape[0], 1)
        grid_w = [1] * len(scan_idx)
    n_mcux = mcu_dims[1]
    pred = [0] * len(scan_idx)
    for m in range(mcu_dims[0] * mcu_dims[1]):
        if dri and m and m % dri == 0:
            reader.sync_restart(m // dri - 1)
            pred = [0] * len(scan_idx)
        r, c = divmod(m, n_mcux)
        for si, ci in enumerate(scan_idx):
            hi, vi = samp[si]
            for v in range(vi):
                for u in range(hi):
                    bidx = (r * vi + v) * grid_w[si] + (c * hi + u)
                    ssss = _decode_huffman(reader, dc_tbls[si])
                    diff = _extend(reader.receive(ssss), ssss)
                    pred[si] += diff
                    coeffs[ci][bidx][0] = pred[si] << al


def _decode_scan_dc_refine(
    reader, coeffs, scan_idx, al, dri=0, samp=None, mcu_dims=None, grid_w=None
):
    if samp is None:
        samp = [(1, 1)] * len(scan_idx)
        mcu_dims = (coeffs[scan_idx[0]].shape[0], 1)
        grid_w = [1] * len(scan_idx)
    n_mcux = mcu_dims[1]
    p1 = 1 << al
    for m in range(mcu_dims[0] * mcu_dims[1]):
        if dri and m and m % dri == 0:
            reader.sync_restart(m // dri - 1)
        r, c = divmod(m, n_mcux)
        for si, ci in enumerate(scan_idx):
            hi, vi = samp[si]
            for v in range(vi):
                for u in range(hi):
                    bidx = (r * vi + v) * grid_w[si] + (c * hi + u)
                    if reader.read_bit():
                        coeffs[ci][bidx][0] = int(coeffs[ci][bidx][0]) | p1


def _decode_scan_ac_first(reader, blocks, ac_tbl, ss, se, al, dri=0):
    """AC first scan of one component (T.81 G.2.2 / F.2.2.2 with EOB runs)."""
    eobrun = 0
    for b, blk in enumerate(blocks):
        if dri and b and b % dri == 0:
            reader.sync_restart(b // dri - 1)
            eobrun = 0  # EOB runs cannot cross a restart boundary
        if eobrun > 0:
            eobrun -= 1
            continue
        k = ss
        while k <= se:
            sym = _decode_huffman(reader, ac_tbl)
            r, s = sym >> 4, sym & 0x0F
            if s == 0:
                if r == 15:
                    k += 16  # ZRL
                    continue
                eobrun = (1 << r) - 1
                if r:
                    eobrun += reader.receive(r)
                break
            k += r
            if k > se:
                raise ValueError("AC band overflow")
            blk[k] = _extend(reader.receive(s), s) << al
            k += 1


def _decode_scan_ac_refine(reader, blocks, ac_tbl, ss, se, al, dri=0):
    """AC refinement scan of one component (T.81 G.2.2): correction bits
    for already-significant coefficients, run-positioned new ±1<<Al
    values, EOB runs that still carry correction bits for the remainder
    of each covered band."""
    p1 = 1 << al
    eobrun = 0

    def correct(blk, k):
        v = int(blk[k])
        if reader.read_bit() and (v & p1) == 0:
            blk[k] = v + (p1 if v >= 0 else -p1)

    for b, blk in enumerate(blocks):
        if dri and b and b % dri == 0:
            reader.sync_restart(b // dri - 1)
            eobrun = 0  # EOB runs cannot cross a restart boundary
        k = ss
        if eobrun == 0:
            while k <= se:
                sym = _decode_huffman(reader, ac_tbl)
                r, s = sym >> 4, sym & 0x0F
                newval = 0
                if s:
                    if s != 1:
                        raise ValueError("bad refinement magnitude")
                    newval = p1 if reader.read_bit() else -p1
                else:
                    if r != 15:
                        eobrun = 1 << r
                        if r:
                            eobrun += reader.receive(r)
                        break  # remainder of this band joins the EOB run
                    # ZRL: skip 16 zero-history positions, no new value
                while k <= se:
                    if int(blk[k]) != 0:
                        correct(blk, k)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if newval:
                    if k > se:
                        raise ValueError("refinement position overflow")
                    blk[k] = newval
                k += 1
        if eobrun > 0:
            while k <= se:  # consume correction bits inside the EOB run
                if int(blk[k]) != 0:
                    correct(blk, k)
                k += 1
            eobrun -= 1


def decode_jpeg(payload: bytes):
    """Decode a JFIF/JPEG: 8-bit BASELINE sequential (SOF0) and — round 5 —
    PROGRESSIVE (SOF2, T.81 Annex G: spectral selection + successive
    approximation, DC/AC first and refinement scans, EOB-run coding).
    Returns ``(width, height, ncomp, pixels)`` with pixels an
    (H, W, ncomp) or (H, W) uint8 array. 1 or 3 components. Supported
    sampling: 4:4:4 (1x1) and 4:2:0 (2x2 luma) — in BOTH frame modes,
    including (round 6) progressive+4:2:0 — plus DRI/RSTm
    restart-interval consumption. Round 7: SOF9 ARITHMETIC-coded
    sequential AND SOF10 progressive-arithmetic frames decode too (QM
    coder + F.1.4.4 conditioning, `functions/jpeg_arith.py`, DAC-marker
    conditioning honored; libjpeg-interop-tested both directions).
    Hierarchical (Annex J) streams decode via
    `functions/jpeg_hierarchical.py`; still honestly gated here:
    extended-precision modes."""
    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    quant: dict[int, object] = {}
    huff: dict[tuple[int, int], Mapping[tuple[int, int], int]] = {}
    frame = None
    progressive = False
    arith = False
    dc_cond: dict[int, tuple[int, int]] = {}
    ac_kx: dict[int, int] = {}
    dri = 0
    coeffs: list | None = None
    comp_ids: list[int] = []
    saw_scan = False
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue  # standalone markers
        seglen = struct.unpack(">H", payload[pos : pos + 2])[0]
        seg = payload[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables not supported")
                zz_tbl = np.frombuffer(seg[p + 1 : p + 65], dtype=np.uint8).astype(np.float64)
                nat = np.empty(64, dtype=np.float64)
                nat[_zz64()] = zz_tbl  # de-zigzag into natural order
                quant[tq] = nat.reshape(8, 8)
                p += 65
        elif marker in (0xC0, 0xC2, 0xC9, 0xCA):  # sequential/progressive x huffman/arith
            progressive = marker in (0xC2, 0xCA)
            arith = marker in (0xC9, 0xCA)
            prec, h, w, nc = seg[0], struct.unpack(">H", seg[1:3])[0], struct.unpack(">H", seg[3:5])[0], seg[5]
            if prec != 8:
                raise NotImplementedError("only 8-bit precision supported")
            comps = []
            for i in range(nc):
                cid, samp, tq = seg[6 + 3 * i : 9 + 3 * i]
                comps.append((cid, tq, samp >> 4, samp & 0x0F))
            samps = [(hi, vi) for _cid, _tq, hi, vi in comps]
            # Any layout where every component's factors divide the max
            # factors decodes with integer pixel-replication upsampling
            # (round 7: generalized from the 4:4:4/4:2:0 allowlist —
            # 4:2:2, 4:4:0, 4:1:1 etc. now decode; libjpeg-interop
            # tested). Non-divisor ratios would need fractional
            # upsampling and stay gated.
            _hmax = max(hi for hi, _ in samps)
            _vmax = max(vi for _, vi in samps)
            if any(
                hi < 1 or vi < 1 or _hmax % hi or _vmax % vi
                for hi, vi in samps
            ):
                raise NotImplementedError(
                    f"unsupported sampling layout {samps}: component "
                    "factors must divide the frame's max factors"
                )
            frame = (h, w, comps)
            comp_ids = [cid for cid, _tq, _hi, _vi in comps]
            hmax = max(hi for hi, _ in samps)
            vmax = max(vi for _, vi in samps)
            mcux = (w + 8 * hmax - 1) // (8 * hmax)
            mcuy = (h + 8 * vmax - 1) // (8 * vmax)
            grid_w = [mcux * hi for hi, _ in samps]
            grid_h = [mcuy * vi for _, vi in samps]
            coeffs = [
                np.zeros((grid_h[i] * grid_w[i], 64), dtype=np.int64)
                for i in range(nc)
            ]
        elif marker in (0xC5, 0xC6, 0xC7, 0xCD, 0xCE, 0xCF) or marker == 0xDE:
            raise NotImplementedError(
                "hierarchical JPEG (use decode_jpeg_hierarchical)"
            )
        elif marker in (0xC1, 0xC3, 0xCB):
            raise NotImplementedError(
                "unsupported JPEG mode (extended/lossless — use "
                "decode_jpeg_lossless for SOF3)"
            )
        elif marker == 0xCC:  # DAC: arithmetic conditioning (B.2.4.3)
            p = 0
            while p < len(seg):
                tc, tb = seg[p] >> 4, seg[p] & 0x0F
                if tc == 0:
                    dc_cond[tb] = (seg[p + 1] & 0x0F, seg[p + 1] >> 4)
                else:
                    ac_kx[tb] = seg[p + 1]
                p += 2
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                bits = list(seg[p + 1 : p + 17])
                nvals = sum(bits)
                vals = list(seg[p + 17 : p + 17 + nvals])
                huff[(tc, th)] = _decode_table(tuple(bits), tuple(vals))
                p += 17 + nvals
        elif marker == 0xDD:  # DRI: restart interval in MCUs
            dri = struct.unpack(">H", seg[0:2])[0]
        elif marker == 0xDA:  # SOS: decode this scan's entropy segment
            if frame is None or coeffs is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            scan_idx, dc_tbls, ac_tbls = [], [], []
            for i in range(ns):
                cs, tdta = seg[1 + 2 * i], seg[2 + 2 * i]
                if cs not in comp_ids:
                    raise ValueError(f"scan references unknown component {cs}")
                scan_idx.append(comp_ids.index(cs))
                dc_tbls.append(huff.get((0, tdta >> 4)))
                ac_tbls.append(huff.get((1, tdta & 0x0F)))
            s_ss, s_se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            s_ah, s_al = ahal >> 4, ahal & 0x0F
            if arith:
                from rtcdb_spark.functions import jpeg_arith as JA

                dc_nos = [seg[2 + 2 * i] >> 4 for i in range(ns)]
                ac_nos = [seg[2 + 2 * i] & 0x0F for i in range(ns)]
                cond = {
                    t: dc_cond.get(t, (JA.DEFAULT_DC_L, JA.DEFAULT_DC_U))
                    for t in dc_nos
                }
                kx = {t: ac_kx.get(t, JA.DEFAULT_AC_KX) for t in ac_nos}
                geo = dict(
                    dri=dri,
                    samp=[samps[ci] for ci in scan_idx],
                    mcu_dims=(mcuy, mcux),
                    grid_w=[grid_w[ci] for ci in scan_idx],
                )
                if not progressive:
                    end = JA.decode_scan_arith(
                        payload, pos + seglen, coeffs, scan_idx,
                        dc_nos, ac_nos, cond, kx, **geo,
                    )
                elif s_ss == 0 and s_se == 0:
                    if s_ah == 0:
                        end = JA.decode_scan_arith_dc_first(
                            payload, pos + seglen, coeffs, scan_idx,
                            dc_nos, cond, s_al, **geo,
                        )
                    else:
                        end = JA.decode_scan_arith_dc_refine(
                            payload, pos + seglen, coeffs, scan_idx,
                            s_al, **geo,
                        )
                else:
                    if ns != 1:
                        raise ValueError(
                            "progressive AC scan must be single-component"
                        )
                    ci = scan_idx[0]
                    # non-interleaved AC scans cover the TRUE block grid,
                    # skipping MCU-padding blocks (T.81 A.2.2; same view
                    # logic as the huffman progressive path below)
                    hi, vi = samps[ci]
                    cw_true = (((w * hi + hmax - 1) // hmax) + 7) // 8
                    ch_true = (((h * vi + vmax - 1) // vmax) + 7) // 8
                    gw = grid_w[ci]
                    if cw_true == gw and ch_true == grid_h[ci]:
                        ablocks = coeffs[ci]
                    else:
                        ablocks = [
                            coeffs[ci][r * gw + c]
                            for r in range(ch_true)
                            for c in range(cw_true)
                        ]
                    if s_ah == 0:
                        end = JA.decode_scan_arith_ac_first(
                            payload, pos + seglen, ablocks, ac_nos[0],
                            kx[ac_nos[0]], s_ss, s_se, s_al, dri=dri,
                        )
                    else:
                        end = JA.decode_scan_arith_ac_refine(
                            payload, pos + seglen, ablocks, ac_nos[0],
                            s_ss, s_se, s_al, dri=dri,
                        )
                saw_scan = True
                pos = _next_marker(payload, end)
                continue
            reader = _BitReader(payload, pos + seglen)
            if not progressive:
                _decode_scan_baseline(
                    reader,
                    coeffs,
                    scan_idx,
                    dc_tbls,
                    ac_tbls,
                    dri=dri,
                    samp=[samps[ci] for ci in scan_idx],
                    mcu_dims=(mcuy, mcux),
                    grid_w=[grid_w[ci] for ci in scan_idx],
                )
            elif s_ss == 0 and s_se == 0:
                if s_ah == 0:
                    _decode_scan_dc_first(
                        reader, coeffs, scan_idx, dc_tbls, s_al, dri=dri,
                        samp=[samps[ci] for ci in scan_idx],
                        mcu_dims=(mcuy, mcux),
                        grid_w=[grid_w[ci] for ci in scan_idx],
                    )
                else:
                    _decode_scan_dc_refine(
                        reader, coeffs, scan_idx, s_al, dri=dri,
                        samp=[samps[ci] for ci in scan_idx],
                        mcu_dims=(mcuy, mcux),
                        grid_w=[grid_w[ci] for ci in scan_idx],
                    )
            else:
                if ns != 1:
                    raise ValueError("progressive AC scan must be single-component")
                ci = scan_idx[0]
                # Non-interleaved AC scans cover the component's TRUE
                # block grid (ceil(comp_dim/8)), not the MCU-padded
                # storage grid (T.81 A.2.2): with 2x2 luma, the storage
                # grid can hold an extra block row/column that this scan
                # must skip. Row views mutate the backing array in place.
                hi, vi = samps[ci]
                cw_true = (((w * hi + hmax - 1) // hmax) + 7) // 8
                ch_true = (((h * vi + vmax - 1) // vmax) + 7) // 8
                gw = grid_w[ci]
                if cw_true == gw and ch_true == grid_h[ci]:
                    blocks = coeffs[ci]
                else:
                    blocks = [
                        coeffs[ci][r * gw + c]
                        for r in range(ch_true)
                        for c in range(cw_true)
                    ]
                if s_ah == 0:
                    _decode_scan_ac_first(
                        reader, blocks, ac_tbls[0], s_ss, s_se, s_al, dri=dri
                    )
                else:
                    _decode_scan_ac_refine(
                        reader, blocks, ac_tbls[0], s_ss, s_se, s_al, dri=dri
                    )
            saw_scan = True
            pos = _next_marker(payload, reader.pos)
            continue
        pos += seglen
    if frame is None or not saw_scan:
        raise ValueError("missing SOF/SOS")

    h, w, comps = frame
    ncomp = len(comps)
    cmat = _dct_matrix()
    zz = _zz64()
    planes = []
    for ci in range(ncomp):
        tq, hi, vi = comps[ci][1], comps[ci][2], comps[ci][3]
        if tq not in quant:
            raise ValueError(f"missing quant table {tq}")
        gw, gh = grid_w[ci], grid_h[ci]
        nat = np.zeros((gh * gw, 64), dtype=np.float64)
        nat[:, zz] = coeffs[ci].astype(np.float64)  # de-zigzag
        blocks = nat.reshape(-1, 8, 8) * quant[tq][None, :, :]
        spatial = np.einsum("ji,njk,kl->nil", cmat, blocks, cmat) + 128.0
        plane = _from_blocks(spatial, gh * 8, gw * 8)
        # component's true resolution, then pixel-replication upsample
        # back to frame resolution (T.81 A.1.1 / JFIF box upsampling)
        ch = (h * vi + vmax - 1) // vmax
        cw = (w * hi + hmax - 1) // hmax
        plane = plane[:ch, :cw]
        if vi != vmax or hi != hmax:
            plane = np.repeat(
                np.repeat(plane, vmax // vi, axis=0), hmax // hi, axis=1
            )[:h, :w]
        planes.append(plane[:h, :w])

    if ncomp == 1:
        px = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return w, h, 1, px
    if ncomp == 3:
        ycc = np.stack(planes, axis=-1)
        return w, h, 3, _ycbcr_to_rgb(ycc)
    raise NotImplementedError(f"{ncomp}-component JPEG not supported")
