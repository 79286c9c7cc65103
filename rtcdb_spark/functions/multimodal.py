"""Multimodal column plumbing (SURVEY §2 C-IX): opaque binary payloads with
typed metadata, processed by Arrow-batched pandas iterators.

The engine treats images/audio/video as `binary` columns plus a metadata
struct — exactly how a 100 TB multimodal corpus is stored in parquet. The
Spark-side plumbing (schemas, `mapInPandas` batch iteration, partition
sizing) is real and tested. Formats without external-library dependencies
get REAL pure-Python codecs: BMP (BITMAPFILEHEADER + BITMAPINFOHEADER
parse, any standard uncompressed BMP), WAV (RIFF chunk walk, PCM fmt
parse), PNG (round 4 decoder — chunk CRC verification, zlib inflate, all
five scanline filters; round 5: the FULL static spec surface — grayscale
1/2/4/8/16-bit, gray+alpha, 16-bit truecolor, paletted with tRNS, Adam7
interlacing), baseline-sequential JPEG (round 5, `functions/jpeg.py`:
full T.81 encode+decode wired into `decode_image`), and MP4 sample-table
frame sampling (round 5, `functions/mp4.py`). Round 5 closed the
progressive-JPEG gate, round 6 closes APNG (full animation composition —
`make_apng`/`decode_apng` below) and progressive+4:2:0 JPEG. Formats that
genuinely need external libraries (MP3, codec decode of MP4 frame
payloads) raise `NotImplementedError` with that label — swap the dispatch
body on a real cluster and nothing else changes.

Scale notes: `mapInPandas` streams Arrow batches (no per-row pickling);
decode work is embarrassingly parallel, so throughput scales with cores.
The per-row `synth_*` codec kernels run through `dedup.map_ordered` and
return rows ordered by id (`synth_and_quadrant_sig`, whose consumer
aggregates, fans out round-robin instead). Binary payloads inflate task input size — pair with
`spark.sql.files.maxPartitionBytes` tuning so a task's batch of payloads
fits executor memory.
"""

from __future__ import annotations

import math
import struct
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from rtcdb_spark.functions.dedup import fan_out_small, map_ordered

META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("head_hex", StringType()),
        StructField("byte_sum", LongType()),
    ]
)


def make_bmp(width: int, height: int, seed: int) -> bytes:
    """Build a valid 24-bpp uncompressed BMP (BITMAPINFOHEADER) with
    deterministic pixel bytes — a real, openable image file."""
    stride = ((3 * width + 3) // 4) * 4  # rows pad to 4-byte boundaries
    pixel_bytes = stride * height
    size = 14 + 40 + pixel_bytes
    header = struct.pack("<2sIHHI", b"BM", size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, pixel_bytes, 2835, 2835, 0, 0)
    px = bytes((seed * 31 + i * 7) % 256 for i in range(pixel_bytes))
    return header + info + px


def make_wav(sample_rate: int, n_samples: int, seed: int) -> bytes:
    """Build a valid mono 16-bit PCM WAV with a deterministic waveform."""
    data = b"".join(
        struct.pack("<h", ((seed * 131 + i * 17) % 65536) - 32768)
        for i in range(n_samples)
    )
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    return (
        struct.pack("<4sI4s", b"RIFF", 36 + len(data), b"WAVE")
        + struct.pack("<4sI", b"fmt ", 16)
        + fmt
        + struct.pack("<4sI", b"data", len(data))
        + data
    )


def decode_bmp(payload: bytes) -> dict[str, int]:
    """Parse a standard BMP header → {width, height, bpp, n_bytes}.

    Real decoder: BITMAPFILEHEADER (14 bytes, 'BM' magic) then
    BITMAPINFOHEADER (width/height as signed LE int32, bpp at offset 28).
    Works on any uncompressed BMP, not just `make_bmp` output."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    width, height = struct.unpack_from("<ii", payload, 18)
    (bpp,) = struct.unpack_from("<H", payload, 28)
    return {
        "width": width,
        "height": abs(height),  # negative height = top-down row order
        "bpp": bpp,
        "n_bytes": len(payload),
    }


def decode_wav(payload: bytes) -> dict[str, int]:
    """Parse a RIFF/WAVE file → {channels, sample_rate, bits, n_samples}.

    Real decoder: walks RIFF chunks (handles extra chunks and odd-length
    padding per the RIFF spec) to find 'fmt ' and 'data'."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, channels, sample_rate, bits, data_len = 12, None, None, None, None
    while pos + 8 <= len(payload):
        cid, clen = struct.unpack_from("<4sI", payload, pos)
        if cid == b"fmt ":
            _, channels, sample_rate, _, _, bits = struct.unpack_from(
                "<HHIIHH", payload, pos + 8
            )
        elif cid == b"data":
            data_len = clen
        pos += 8 + clen + (clen % 2)  # chunks pad to even offsets
    if None in (channels, sample_rate, bits, data_len):
        raise ValueError("missing fmt/data chunk")
    return {
        "channels": channels,
        "sample_rate": sample_rate,
        "bits": bits,
        "n_samples": data_len // (channels * bits // 8),
    }


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a, b, c):
    """Paeth predictor (PNG spec 9.4), vectorized over numpy arrays."""
    import numpy as np

    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def make_png(width: int, height: int, seed: int, channels: int = 3) -> bytes:
    """Build a valid PNG (8-bit truecolor RGB or RGBA) with deterministic
    pixel bytes — a REAL compressed image: zlib-deflated scanlines with a
    rotating per-row filter type (0..4), correct chunk CRCs. Using every
    filter type makes a decode round-trip exercise the whole unfilter
    path, not just the trivial one."""
    import zlib

    import numpy as np

    bpp = channels
    n = width * height * channels
    idx = np.arange(n, dtype=np.int64)
    raw = ((seed * 31 + idx * 7) % 256).astype(np.int64).reshape(
        height, width * channels
    )
    zero = np.zeros(bpp, dtype=np.int64)
    stream = bytearray()
    prev = np.zeros(width * channels, dtype=np.int64)
    for y in range(height):
        row = raw[y]
        left = np.concatenate([zero, row[:-bpp]]) if width > 1 else zero[: len(row)] * 0
        upleft = np.concatenate([zero, prev[:-bpp]]) if width > 1 else zero[: len(row)] * 0
        ft = y % 5
        if ft == 0:
            f = row
        elif ft == 1:
            f = (row - left) % 256
        elif ft == 2:
            f = (row - prev) % 256
        elif ft == 3:
            f = (row - (left + prev) // 2) % 256
        else:
            f = (row - _paeth(left, prev, upleft)) % 256
        stream.append(ft)
        stream += f.astype(np.uint8).tobytes()
        prev = row

    def chunk(ctype: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    color_type = 2 if channels == 3 else 6
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(stream)))
        + chunk(b"IEND", b"")
    )


_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
# Adam7 pass layout: (x0, y0, dx, dy) per PNG spec 8.2
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _png_unfilter(data: bytes, height: int, stride: int, bpp: int):
    """Reconstruct `height` scanlines of `stride` bytes each from the
    filtered stream (1 filter-type byte + stride bytes per line), with
    `bpp` = bytes per complete pixel (min 1 — sub-byte depths use 1, per
    spec 9.2). All five filter types; Sub via per-lane cumulative sum.
    Returns an (height, stride) int64 array of raw bytes."""
    import numpy as np

    if len(data) != height * (1 + stride):
        raise ValueError("PNG pixel stream length mismatch")
    arr = np.frombuffer(data, dtype=np.uint8).reshape(height, 1 + stride)
    zero = np.zeros(bpp, dtype=np.int64)
    out = np.zeros((height, stride), dtype=np.int64)
    prev = np.zeros(stride, dtype=np.int64)
    n_units = stride // bpp
    for y in range(height):
        ft = int(arr[y, 0])
        f = arr[y, 1:].astype(np.int64)
        if ft == 0:
            rec = f
        elif ft == 2:
            rec = (f + prev) % 256
        elif ft == 1 and stride % bpp == 0:
            rec = np.cumsum(f.reshape(n_units, bpp), axis=0).reshape(-1) % 256
        elif ft in (1, 3, 4):
            rec = np.zeros(stride, dtype=np.int64)
            for i0 in range(0, stride, bpp):
                seg = slice(i0, min(i0 + bpp, stride))
                left = rec[i0 - bpp : i0] if i0 else zero[: seg.stop - i0]
                up = prev[seg]
                if ft == 1:
                    rec[seg] = (f[seg] + left[: seg.stop - i0]) % 256
                elif ft == 3:
                    rec[seg] = (f[seg] + (left[: seg.stop - i0] + up) // 2) % 256
                else:
                    upleft = prev[i0 - bpp : i0] if i0 else zero[: seg.stop - i0]
                    rec[seg] = (
                        f[seg] + _paeth(left[: seg.stop - i0], up, upleft)
                    ) % 256
        else:
            raise ValueError(f"bad PNG filter type {ft}")
        out[y] = rec
        prev = rec
    return out


def _png_rows_to_samples(rows, width: int, channels: int, depth: int):
    """(H, stride_bytes) raw scanline bytes → (H, width*channels) samples
    (int64). Depth 8: identity; 16: big-endian pairs; 1/2/4: unpack MSB-
    first and truncate the row-end padding bits."""
    import numpy as np

    h = rows.shape[0]
    if depth == 8:
        return rows[:, : width * channels]
    if depth == 16:
        pairs = rows.reshape(h, -1, 2)
        return (pairs[:, :, 0] * 256 + pairs[:, :, 1])[:, : width * channels]
    # sub-byte depths (gray / palette indices, channels == 1)
    bits = np.unpackbits(rows.astype(np.uint8), axis=1)
    per = 8 // depth
    vals = bits.reshape(h, -1, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.int64)
    samples = (vals * weights).sum(axis=2)
    del per
    return samples[:, : width * channels]


def decode_png(payload: bytes):
    """REAL pure-Python/numpy PNG decoder (no PIL): chunk walk with CRC
    verification, IHDR parse, IDAT concatenation, zlib inflate, full
    scanline unfiltering (all five filter types), and — round 5 — the
    complete static-image spec surface: grayscale (bit depths 1/2/4/8/16),
    gray+alpha, truecolor RGB/RGBA (8/16-bit), paletted (PLTE, depths
    1/2/4/8, with tRNS palette alpha), and Adam7 interlacing (seven
    sub-image passes, each unfiltered independently and scattered into the
    output grid). Returns (meta, pixels): uint8 pixels (uint16 for 16-bit
    files), shape (H, W) for grayscale or (H, W, channels) otherwise;
    paletted files decode to their expanded RGB/RGBA pixels.

    APNG animation decodes through :func:`decode_apng` (round 6); this
    static decoder reads an APNG's default image and skips the animation
    chunks, exactly like a non-animated viewer."""
    import zlib

    import numpy as np

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, ihdr, idat, plte, trns = 8, None, bytearray(), None, None
    while pos + 8 <= len(payload):
        (clen,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + clen]
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + clen)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"tRNS":
            trns = np.frombuffer(data, dtype=np.uint8)
        elif ctype == b"IEND":
            break
        pos += 12 + clen
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    width, height, depth, color_type, _comp, _filt, interlace = ihdr
    if color_type not in _PNG_CHANNELS:
        raise ValueError(f"bad PNG color type {color_type}")
    channels = _PNG_CHANNELS[color_type]
    if color_type == 3 and plte is None:
        raise ValueError("paletted PNG missing PLTE")
    raw = zlib.decompress(bytes(idat))
    bpp = max(1, channels * depth // 8)

    def pass_samples(pw: int, ph: int, buf: bytes):
        stride = (pw * channels * depth + 7) // 8
        rows = _png_unfilter(buf, ph, stride, bpp)
        return _png_rows_to_samples(rows, pw, channels, depth)

    if not interlace:
        samples = pass_samples(width, height, raw)
        px = samples.reshape(height, width, channels)
    else:
        px = np.zeros((height, width, channels), dtype=np.int64)
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            stride = (pw * channels * depth + 7) // 8
            size = ph * (1 + stride)
            sub = pass_samples(pw, ph, raw[off : off + size])
            px[y0::dy, x0::dx] = sub.reshape(ph, pw, channels)
            off += size
        if off != len(raw):
            raise ValueError("Adam7 stream length mismatch")

    out_channels = channels
    if color_type == 3:
        lut = plte
        if trns is not None:
            alpha = np.full(len(plte), 255, dtype=np.uint8)
            alpha[: len(trns)] = trns
            lut = np.concatenate([plte, alpha[:, None]], axis=1)
        idx = px[:, :, 0]
        if int(idx.max(initial=0)) >= len(lut):
            raise ValueError("palette index out of range")
        px = lut[idx].astype(np.int64)
        out_channels = lut.shape[1]
        depth_out = 8
    else:
        depth_out = depth

    dtype = np.uint16 if depth_out == 16 else np.uint8
    pixels = px.astype(dtype)
    if out_channels == 1:
        pixels = pixels.reshape(height, width)
    meta = {
        "width": width,
        "height": height,
        "bpp": depth_out * out_channels,
        "n_bytes": len(payload),
    }
    return meta, pixels


def make_png_ext(
    px,
    color_type: int,
    depth: int = 8,
    interlace: bool = False,
    palette=None,
    trns=None,
) -> bytes:
    """Encode ANY spec shape for decoder round-trips (round 5): grayscale
    (0), truecolor (2), paletted (3, with optional tRNS), gray+alpha (4),
    RGBA (6); bit depths 1/2/4/8/16 as the spec allows; optional Adam7
    interlacing. `px` is (H, W) sample values for 1-channel types (palette
    indices for type 3) or (H, W, C) otherwise. All rows use filter type 0
    — filter variety is exercised by `make_png`; this encoder exists to
    round-trip the exotic LAYOUTS."""
    import zlib

    import numpy as np

    px = np.asarray(px, dtype=np.int64)
    if px.ndim == 2:
        px = px[:, :, None]
    height, width, channels = px.shape
    assert channels == _PNG_CHANNELS[color_type], (channels, color_type)

    def pack_rows(sub):
        ph, pw, _c = sub.shape
        flat = sub.reshape(ph, pw * channels)
        if depth == 8:
            row_bytes = flat.astype(np.uint8)
        elif depth == 16:
            b = np.zeros((ph, pw * channels * 2), dtype=np.uint8)
            b[:, 0::2] = flat >> 8
            b[:, 1::2] = flat & 0xFF
            row_bytes = b
        else:
            per = 8 // depth
            pad = (-flat.shape[1]) % per
            padded = np.pad(flat, ((0, 0), (0, pad)))
            bits = (
                (padded[:, :, None] >> np.arange(depth - 1, -1, -1)) & 1
            ).reshape(ph, -1)
            row_bytes = np.packbits(bits.astype(np.uint8), axis=1)
        out = bytearray()
        for y in range(ph):
            out.append(0)  # filter type 0
            out += row_bytes[y].tobytes()
        return bytes(out)

    if interlace:
        stream = bytearray()
        for x0, y0, dx, dy in _ADAM7:
            sub = px[y0::dy, x0::dx]
            if sub.shape[0] and sub.shape[1]:
                stream += pack_rows(sub)
        stream = bytes(stream)
    else:
        stream = pack_rows(px)

    def chunk(ctype: bytes, data: bytes) -> bytes:
        import zlib as _z

        crc = _z.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    ihdr = struct.pack(
        ">IIBBBBB", width, height, depth, color_type, 0, 0, 1 if interlace else 0
    )
    out = _PNG_SIG + chunk(b"IHDR", ihdr)
    if color_type == 3:
        assert palette is not None
        out += chunk(b"PLTE", np.asarray(palette, dtype=np.uint8).tobytes())
        if trns is not None:
            out += chunk(b"tRNS", bytes(trns))
    out += chunk(b"IDAT", zlib.compress(stream)) + chunk(b"IEND", b"")
    return out


# -- APNG (round 6 — closes the "APNG animation out of scope" gate) ---------
# Chunk grammar per the public APNG spec (now PNG 3rd-edition §11.3.6 /
# the original Mozilla spec): acTL (frame/play counts) before IDAT; one
# fcTL per frame (sequence number, region, delays, dispose_op, blend_op);
# frame 0's pixels in IDAT when its fcTL precedes IDAT, later frames in
# fdAT chunks (sequence number + deflate stream). Composition model:
# RGBA canvas starts fully transparent; per frame render the region, then
# SOURCE-replace or OVER-composite; dispose_op decides what the NEXT
# frame composes against (NONE keep / BACKGROUND clear region /
# PREVIOUS revert region).

_APNG_DISPOSE_NONE, _APNG_DISPOSE_BACKGROUND, _APNG_DISPOSE_PREVIOUS = 0, 1, 2
_APNG_BLEND_SOURCE, _APNG_BLEND_OVER = 0, 1


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import zlib

    crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
    return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)


def _filter_rgba_stream(px) -> bytes:
    """Filter an (H, W, 4) uint8 frame with the same rotating 0..4 filter
    schedule `make_png` uses, so APNG decode exercises every unfilter
    path too."""
    import numpy as np

    h, w, _c = px.shape
    raw = px.reshape(h, w * 4).astype(np.int64)
    bpp = 4
    zero = np.zeros(bpp, dtype=np.int64)
    stream = bytearray()
    prev = np.zeros(w * 4, dtype=np.int64)
    for y in range(h):
        row = raw[y]
        left = np.concatenate([zero, row[:-bpp]]) if w > 1 else zero * 0
        upleft = np.concatenate([zero, prev[:-bpp]]) if w > 1 else zero * 0
        ft = y % 5
        if ft == 0:
            f = row
        elif ft == 1:
            f = (row - left) % 256
        elif ft == 2:
            f = (row - prev) % 256
        elif ft == 3:
            f = (row - (left + prev) // 2) % 256
        else:
            f = (row - _paeth(left, prev, upleft)) % 256
        stream.append(ft)
        stream += f.astype(np.uint8).tobytes()
        prev = row
    return bytes(stream)


def _fctl(
    seq: int, w: int, h: int, x: int, y: int, dispose: int, blend: int
) -> bytes:
    return _png_chunk(
        b"fcTL",
        struct.pack(">IIIIIHHBB", seq, w, h, x, y, 1, 10, dispose, blend),
    )


def make_apng(width: int, height: int, seed: int, frames: list[dict]) -> bytes:
    """Build a valid APNG (RGBA8): frame 0 is the full-canvas IDAT image
    (its fcTL precedes IDAT, so it is part of the animation); each later
    frame is a dict {px: (h, w, 4) uint8, x, y, dispose, blend} rendered
    as fcTL + one fdAT. Sequence numbers are the single shared counter
    the spec requires across fcTL/fdAT."""
    import zlib

    import numpy as np

    base = np.asarray(frames[0]["px"], dtype=np.uint8)
    assert base.shape == (height, width, 4), "frame 0 must be full-canvas RGBA"
    out = bytearray(_PNG_SIG)
    out += _png_chunk(
        b"IHDR", struct.pack(">IIBBBBB", width, height, 8, 6, 0, 0, 0)
    )
    out += _png_chunk(b"acTL", struct.pack(">II", len(frames), 0))
    seq = 0
    out += _fctl(
        seq, width, height, 0, 0,
        frames[0].get("dispose", _APNG_DISPOSE_NONE),
        frames[0].get("blend", _APNG_BLEND_SOURCE),
    )
    seq += 1
    out += _png_chunk(b"IDAT", zlib.compress(_filter_rgba_stream(base)))
    for fr in frames[1:]:
        px = np.asarray(fr["px"], dtype=np.uint8)
        fh, fw, _c = px.shape
        x, y = fr.get("x", 0), fr.get("y", 0)
        assert x + fw <= width and y + fh <= height, "frame region out of bounds"
        out += _fctl(
            seq, fw, fh, x, y,
            fr.get("dispose", _APNG_DISPOSE_NONE),
            fr.get("blend", _APNG_BLEND_SOURCE),
        )
        seq += 1
        out += _png_chunk(
            b"fdAT",
            struct.pack(">I", seq) + zlib.compress(_filter_rgba_stream(px)),
        )
        seq += 1
    out += _png_chunk(b"IEND", b"")
    return bytes(out)


def decode_apng(payload: bytes):
    """Decode an APNG into (meta, frames): the COMPOSED full-canvas RGBA
    frames the animation displays, applying blend_op (SOURCE replace /
    OVER alpha-composite, non-premultiplied integer samples rounded
    half-up) and dispose_op (NONE / BACKGROUND clears the region /
    PREVIOUS reverts it) exactly per the spec's composition model. Scope:
    RGBA8 non-interlaced (the layout every APNG encoder emits by
    default); other layouts raise NotImplementedError honestly. A default
    image whose fcTL is absent (IDAT outside the animation) is skipped,
    per spec."""
    import zlib

    import numpy as np

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, ihdr, actl = 8, None, None
    idat = bytearray()
    # frame assembly: list of (fctl_fields, bytearray of deflate data)
    pending: list = []
    idat_fctl = None
    expected_seq = 0
    while pos + 8 <= len(payload):
        (clen,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + clen]
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + clen)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"acTL":
            actl = struct.unpack(">II", data)
        elif ctype == b"fcTL":
            f = struct.unpack(">IIIIIHHBB", data)
            if f[0] != expected_seq:
                raise ValueError("APNG sequence number out of order")
            expected_seq += 1
            if not idat:  # precedes IDAT → IDAT is this frame's pixels
                idat_fctl = f
            else:
                pending.append([f, bytearray()])
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"fdAT":
            (seq,) = struct.unpack_from(">I", data, 0)
            if seq != expected_seq:
                raise ValueError("APNG sequence number out of order")
            expected_seq += 1
            if not pending:
                raise ValueError("fdAT before any fcTL")
            pending[-1][1] += data[4:]
        elif ctype == b"IEND":
            break
        pos += 12 + clen
    if ihdr is None or actl is None:
        raise ValueError("missing IHDR/acTL")
    width, height, depth, color_type, _c, _f, interlace = ihdr
    if depth != 8 or color_type != 6 or interlace:
        raise NotImplementedError(
            "APNG composition implemented for RGBA8 non-interlaced frames"
        )

    def render(buf: bytes, fw: int, fh: int):
        rows = _png_unfilter(zlib.decompress(bytes(buf)), fh, fw * 4, 4)
        return rows.reshape(fh, fw, 4)

    regions: list = []
    if idat_fctl is not None:
        regions.append((idat_fctl, render(idat, idat_fctl[1], idat_fctl[2])))
    for f, buf in pending:
        regions.append((f, render(buf, f[1], f[2])))
    if len(regions) != actl[0]:
        raise ValueError(
            f"acTL declares {actl[0]} frames, found {len(regions)}"
        )

    canvas = np.zeros((height, width, 4), dtype=np.int64)
    frames_out = []
    for f, px in regions:
        _seq, fw, fh, x, y, _dn, _dd, dispose, blend = f
        if x + fw > width or y + fh > height:
            raise ValueError("frame region outside canvas")
        saved = canvas[y : y + fh, x : x + fw].copy()
        dst = canvas[y : y + fh, x : x + fw]
        if blend == _APNG_BLEND_SOURCE:
            dst[:] = px
        elif blend == _APNG_BLEND_OVER:
            sa = px[:, :, 3:4].astype(np.float64) / 255.0
            da = dst[:, :, 3:4].astype(np.float64) / 255.0
            oa = sa + da * (1.0 - sa)
            with np.errstate(invalid="ignore"):
                oc = np.where(
                    oa > 0,
                    (
                        px[:, :, :3] * sa
                        + dst[:, :, :3] * da * (1.0 - sa)
                    )
                    / np.where(oa > 0, oa, 1.0),
                    0.0,
                )
            dst[:, :, :3] = np.floor(oc + 0.5).astype(np.int64)
            dst[:, :, 3] = np.floor(oa[:, :, 0] * 255.0 + 0.5).astype(np.int64)
        else:
            raise ValueError(f"bad blend_op {blend}")
        frames_out.append(canvas.astype(np.uint8).copy())
        if dispose == _APNG_DISPOSE_BACKGROUND:
            canvas[y : y + fh, x : x + fw] = 0
        elif dispose == _APNG_DISPOSE_PREVIOUS:
            canvas[y : y + fh, x : x + fw] = saved
        elif dispose != _APNG_DISPOSE_NONE:
            raise ValueError(f"bad dispose_op {dispose}")
    meta = {
        "width": width,
        "height": height,
        "n_frames": actl[0],
        "n_plays": actl[1],
        "bpp": 32,
        "n_bytes": len(payload),
    }
    return meta, frames_out


def decode_image(payload: bytes) -> dict[str, int]:
    """Image decode dispatch: BMP, PNG and baseline JPEG are parsed
    natively (PNG via the pure-Python zlib/numpy decoder above, JPEG via
    `functions.jpeg.decode_jpeg` — full T.81 baseline-sequential decode);
    other compressed formats need an imaging library absent from this
    environment."""
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:8] == _PNG_SIG:
        return decode_png(payload)[0]
    if payload[:2] == b"\xff\xd8":
        from rtcdb_spark.functions.jpeg import decode_jpeg

        w, h, ncomp, _px = decode_jpeg(payload)
        return {
            "width": w,
            "height": h,
            "bpp": 8 * ncomp,
            "n_bytes": len(payload),
        }
    raise NotImplementedError(
        "unrecognized image format (not BMP/PNG/JPEG); decode requires "
        "PIL/opencv, not available here"
    )


def decode_audio(payload: bytes) -> dict[str, int]:
    """Audio decode dispatch: WAV is parsed natively; compressed formats
    need an audio library absent from this environment."""
    if payload[:4] == b"RIFF":
        return decode_wav(payload)
    raise NotImplementedError("non-WAV audio decode requires soundfile/ffmpeg; not available here")


def frame_sample(payload: bytes, every_n: int = 10) -> list[bytes]:
    """Frame sampling: for WAV, returns every-nth PCM sample's bytes; for
    MP4/ISO-BMFF (round 5), resolves the stsz/stsc/stco sample tables and
    slices every-nth ENCODED frame payload out of mdat
    (`functions.mp4.sample_frames` — container arithmetic, no codec
    needed; decoding the returned bytes still requires ffmpeg and stays
    gated). Other container formats require ffmpeg (not in this env)."""
    if payload[:4] == b"RIFF":
        meta = decode_wav(payload)
        step = meta["bits"] // 8 * meta["channels"]
        data = payload[44 : 44 + meta["n_samples"] * step]
        return [data[i : i + step] for i in range(0, len(data), step * every_n)]
    if len(payload) >= 12 and payload[4:8] == b"ftyp":
        from rtcdb_spark.functions.mp4 import sample_frames

        return sample_frames(payload, every_n)
    raise NotImplementedError(
        "frame sampling for non-WAV/MP4 containers requires ffmpeg; "
        "not available here"
    )


def attach_payload(df: DataFrame, text_col: str = "text", out: str = "payload") -> DataFrame:
    """Materialize an opaque binary column (here: the UTF-8 bytes of the text
    column, standing in for image/audio bytes)."""
    return df.withColumn(out, F.encode(F.col(text_col), "UTF-8"))


def extract_payload_meta(df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload") -> DataFrame:
    """Deterministic 'feature extraction' over binary payloads via
    `mapInPandas`: byte length, 8-byte head as hex, adler-ish byte checksum.

    This is the exact batch shape a real decoder uses — replace the body of
    `process` with `decode_image(...)` + feature math and the plumbing
    (Arrow transfer, schema, partition parallelism) is unchanged."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf[payload_col]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_bytes": payloads.map(len).astype("int64"),
                    "head_hex": payloads.map(lambda b: bytes(b)[:8].hex()),
                    "byte_sum": payloads.map(lambda b: sum(bytes(b)) % 65521).astype("int64"),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(process, META_SCHEMA)


DECODED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("kind", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("bpp", LongType()),
        StructField("channels", LongType()),
        StructField("sample_rate", LongType()),
        StructField("bits", LongType()),
        StructField("n_samples", LongType()),
        StructField("n_bytes", LongType()),
    ]
)

_WAV_RATES = (8000, 16000, 44100)


def synth_payload(doc_id: int) -> bytes:
    """Deterministic media payload per id: even ids → BMP image, odd → WAV
    audio, with dimensions derived from the id. Stands in for reading real
    media blobs from parquet — every payload is a valid, openable file."""
    if doc_id % 2 == 0:
        return make_bmp(1 + doc_id % 13, 1 + doc_id % 7, doc_id)
    return make_wav(_WAV_RATES[doc_id % 3], 50 + doc_id % 100, doc_id)


def synth_and_decode(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a media payload per row, then run it through the REAL
    pure-Python decoders (`decode_image`/`decode_audio`) inside one
    Arrow-batched `mapInPandas` pass — the end-to-end codec round-trip.

    Batch shape is identical to a production decode over parquet-stored
    blobs: binary in, typed metadata struct out, embarrassingly parallel
    across partitions, no driver involvement."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {f.name: [] for f in DECODED_SCHEMA.fields}
            for doc_id in pdf[id_col].astype("int64"):
                payload = synth_payload(int(doc_id))
                if payload[:2] == b"BM":
                    m = decode_image(payload)
                    row = {
                        "kind": "bmp",
                        "width": m["width"],
                        "height": m["height"],
                        "bpp": m["bpp"],
                        "channels": None,
                        "sample_rate": None,
                        "bits": None,
                        "n_samples": None,
                        "n_bytes": m["n_bytes"],
                    }
                else:
                    m = decode_audio(payload)
                    row = {
                        "kind": "wav",
                        "width": None,
                        "height": None,
                        "bpp": None,
                        "channels": m["channels"],
                        "sample_rate": m["sample_rate"],
                        "bits": m["bits"],
                        "n_samples": m["n_samples"],
                        "n_bytes": len(payload),
                    }
                out["doc_id"].append(int(doc_id))
                for k, v in row.items():
                    out[k].append(v)
            yield pd.DataFrame(
                {
                    k: (
                        pd.array(v, dtype="Int64")
                        if k != "kind"
                        else pd.array(v, dtype="object")
                    )
                    for k, v in out.items()
                }
            )

    return map_ordered(
        df.select(id_col), id_col, lambda d: d.mapInPandas(process, DECODED_SCHEMA)
    )


AUDIO_FEAT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_samples", LongType()),
        StructField("peak_abs", LongType()),
        StructField("zero_cross", LongType()),
        StructField("sum_sq", LongType()),
        StructField("rms", DoubleType()),
    ]
)


def audio_features(payload: bytes) -> dict[str, float]:
    """REAL audio feature extraction from a PCM WAV payload: parse the RIFF
    container, unpack every 16-bit sample, and compute the classic
    silence/clipping screens a speech-corpus pipeline runs — peak
    amplitude, zero-crossing count, and RMS energy.

    All sample math is exact integer arithmetic (sum of squares of int16
    over bounded clips stays far below 2^53); the only float op is one
    division + sqrt for RMS, IEEE-identical across engines."""
    meta = decode_wav(payload)
    n = meta["n_samples"]
    samples = struct.unpack_from(f"<{n}h", payload, 44)
    sum_sq = sum(s * s for s in samples)
    zero_cross = sum(
        1 for a, b in zip(samples, samples[1:]) if (a >= 0) != (b >= 0)
    )
    return {
        "n_samples": n,
        "peak_abs": max(abs(s) for s in samples),
        "zero_cross": zero_cross,
        "sum_sq": sum_sq,
        "rms": math.sqrt(sum_sq / n),  # math.sqrt: correctly-rounded IEEE, = C sqrt
    }


def synth_and_audio_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize the WAV payload for every audio row, then genuinely
    decode its PCM samples and extract features inside one Arrow-batched
    `mapInPandas` pass — the multimodal *feature-extract* stage (the step
    after `synth_and_decode`'s metadata parse).

    Same production batch shape as the decoders: binary in, fixed-width
    typed features out, embarrassingly parallel, no driver hops. At 100 TB
    the payload column dominates task input — pair with
    `spark.sql.files.maxPartitionBytes` so one task's clips fit memory."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {f.name: [] for f in AUDIO_FEAT_SCHEMA.fields}
            for doc_id in pdf[id_col].astype("int64"):
                feats = audio_features(synth_payload(int(doc_id)))
                rows["doc_id"].append(int(doc_id))
                for k, v in feats.items():
                    rows[k].append(v)
            yield pd.DataFrame(rows)

    return map_ordered(
        df.select(id_col), id_col, lambda d: d.mapInPandas(process, AUDIO_FEAT_SCHEMA)
    )


IMAGE_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("mean_b", DoubleType()),
        StructField("mean_g", DoubleType()),
        StructField("mean_r", DoubleType()),
        StructField("brightness", DoubleType()),
    ]
)


def image_stats(payload: bytes) -> dict[str, float]:
    """REAL pixel-level BMP decode: walk the padded scanlines of a 24-bpp
    uncompressed BMP and average each BGR channel — the cheap
    brightness/color screen an image-corpus pipeline runs before expensive
    model scoring. Channel sums are exact integers (bytes ≤ 255); each
    mean is one IEEE division, engine-identical."""
    meta = decode_bmp(payload)
    w, h = meta["width"], meta["height"]
    if meta["bpp"] != 24:
        raise NotImplementedError("pixel stats implemented for 24-bpp BMP only")
    stride = ((3 * w + 3) // 4) * 4
    sums = [0, 0, 0]  # B, G, R
    for y in range(h):
        row = payload[54 + y * stride : 54 + y * stride + 3 * w]
        for x in range(w):
            sums[0] += row[3 * x]
            sums[1] += row[3 * x + 1]
            sums[2] += row[3 * x + 2]
    n = w * h
    mb, mg, mr = (s / n for s in sums)
    return {
        "width": w,
        "height": h,
        "mean_b": mb,
        "mean_g": mg,
        "mean_r": mr,
        # integer-sum first, ONE division: order-independent and exact
        "brightness": (sums[0] + sums[1] + sums[2]) / (3 * n),
    }


def synth_and_image_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Pixel-level feature extraction over the image rows: synthesize each
    BMP payload, then genuinely walk its padded scanlines and average the
    BGR channels inside one Arrow-batched `mapInPandas` pass. Identical
    production shape to the audio path: binary in, typed features out,
    embarrassingly parallel."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {f.name: [] for f in IMAGE_STATS_SCHEMA.fields}
            for doc_id in pdf[id_col].astype("int64"):
                feats = image_stats(synth_payload(int(doc_id)))
                rows["doc_id"].append(int(doc_id))
                for k, v in feats.items():
                    rows[k].append(v)
            yield pd.DataFrame(rows)

    return map_ordered(
        df.select(id_col), id_col, lambda d: d.mapInPandas(process, IMAGE_STATS_SCHEMA)
    )


SILENCE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_samples", LongType()),
        StructField("first_loud", LongType()),
        StructField("last_loud", LongType()),
        StructField("n_trimmed", LongType()),
    ]
)


def silence_bounds(payload: bytes, threshold: int = 3277) -> dict[str, int]:
    """REAL silence trimming: decode the PCM samples and find the first and
    last indices whose amplitude clears the threshold (~10% full scale) —
    the leading/trailing-silence cut every speech pipeline applies before
    feature extraction. Returns 0-based bounds (-1/-1 and 0 kept samples
    when the whole clip is silent)."""
    meta = decode_wav(payload)
    n = meta["n_samples"]
    samples = struct.unpack_from(f"<{n}h", payload, 44)
    first = next((i for i, s in enumerate(samples) if abs(s) >= threshold), -1)
    if first < 0:
        return {"n_samples": n, "first_loud": -1, "last_loud": -1, "n_trimmed": 0}
    last = next(
        i for i in range(n - 1, -1, -1) if abs(samples[i]) >= threshold
    )
    return {
        "n_samples": n,
        "first_loud": first,
        "last_loud": last,
        "n_trimmed": last - first + 1,
    }


def synth_and_silence_bounds(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Silence-trim bounds for every audio row via one Arrow-batched
    `mapInPandas` pass over genuinely decoded PCM — same production shape
    as the other media feature extractors."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {f.name: [] for f in SILENCE_SCHEMA.fields}
            for doc_id in pdf[id_col].astype("int64"):
                b = silence_bounds(synth_payload(int(doc_id)))
                rows["doc_id"].append(int(doc_id))
                for k, v in b.items():
                    rows[k].append(v)
            yield pd.DataFrame(rows)

    return map_ordered(
        df.select(id_col), id_col, lambda d: d.mapInPandas(process, SILENCE_SCHEMA)
    )


QUADRANT_SIG_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sig", LongType()),
    ]
)


def image_quadrant_sig(payload: bytes) -> int:
    """Perceptual signature from REAL decoded pixels: 2x2 quadrant
    average-hash (aHash shrunk to the fixture's tiny images — same
    construction as the classic 8x8: bit q = "quadrant brighter than the
    whole image"). All-integer: per-pixel luminance is the BGR byte sum,
    and the brighter-than-mean test cross-multiplies (qsum * n_total >
    total * n_q) instead of dividing, so there is no float anywhere to
    drift. Quadrant membership: x belongs to the low half iff 2x < w
    (ditto y) — the same split the oracle's analytic twin uses."""
    meta = decode_bmp(payload)
    w, h = meta["width"], meta["height"]
    if meta["bpp"] != 24:
        raise NotImplementedError("quadrant sig implemented for 24-bpp BMP only")
    stride = ((3 * w + 3) // 4) * 4
    qsum = [0, 0, 0, 0]
    qn = [0, 0, 0, 0]
    for y in range(h):
        row = payload[54 + y * stride : 54 + y * stride + 3 * w]
        for x in range(w):
            lum = row[3 * x] + row[3 * x + 1] + row[3 * x + 2]
            q = (0 if 2 * x < w else 1) + (0 if 2 * y < h else 2)
            qsum[q] += lum
            qn[q] += 1
    total, n = sum(qsum), w * h
    sig = 0
    for q in range(4):
        if qn[q] and qsum[q] * n > total * qn[q]:
            sig |= 1 << q
    return sig


def synth_and_quadrant_sig(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Quadrant-aHash over the image rows: synthesize each BMP, decode the
    padded scanlines for real, emit the 4-bit signature — one Arrow-batched
    mapInPandas pass, embarrassingly parallel like every decode kernel."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, sigs = [], []
            for doc_id in pdf[id_col].astype("int64"):
                ids.append(int(doc_id))
                sigs.append(image_quadrant_sig(synth_payload(int(doc_id))))
            yield pd.DataFrame({"doc_id": ids, "sig": sigs})

    return fan_out_small(df.select(id_col)).mapInPandas(
        process, QUADRANT_SIG_SCHEMA
    )


PNG_DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("bpp", LongType()),
        StructField("pixel_sum", LongType()),
        StructField("max_byte", LongType()),
    ]
)


def synth_and_png_decode(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a real compressed PNG per row (even ids → RGB, odd →
    RGBA; dimensions derived from the id; rotating per-row filter types),
    then fully decode it — chunk CRC walk, zlib inflate, ALL-filter
    unfiltering — inside one Arrow-batched `mapInPandas` pass, emitting
    header metadata plus pixel-level aggregates. The pixel_sum over every
    decoded byte is the proof of correct unfiltering: one filter slip and
    the sum diverges from the analytic oracle."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out: dict[str, list] = {f.name: [] for f in PNG_DECODE_SCHEMA.fields}
            for doc_id in pdf[id_col].astype("int64"):
                i = int(doc_id)
                w, h = 1 + i % 11, 1 + i % 5
                ch = 3 if i % 2 == 0 else 4
                meta, px = decode_png(make_png(w, h, i, channels=ch))
                out["doc_id"].append(i)
                out["width"].append(meta["width"])
                out["height"].append(meta["height"])
                out["bpp"].append(meta["bpp"])
                out["pixel_sum"].append(int(px.astype(np.int64).sum()))
                out["max_byte"].append(int(px.max()))
            yield pd.DataFrame({k: pd.array(v, dtype="Int64") for k, v in out.items()})

    return map_ordered(
        df.select(id_col), id_col, lambda d: d.mapInPandas(process, PNG_DECODE_SCHEMA)
    )


JPEG_PROGRESSIVE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("bpp", LongType()),
        StructField("n_scans", LongType()),
        StructField("prog_equals_baseline", BooleanType()),
    ]
)


def synth_and_jpeg_progressive(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Round-5 progressive JPEG end-to-end: per row, encode the synthetic
    image BOTH ways — baseline sequential and progressive (T.81 Annex G
    scan script: DC first, per-component AC first, DC refinement, AC
    refinement) — decode both streams, and emit whether the pixels are
    BIT-IDENTICAL (they must be: both serializations carry the same
    quantized coefficients, so any slip in EOB handling, refinement
    correction bits, or successive-approximation reassembly breaks the
    flag). n_scans counts the SOS markers actually emitted."""
    import numpy as np

    from rtcdb_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
        synth_pixels,
    )

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                f.name: [] for f in JPEG_PROGRESSIVE_SCHEMA.fields
            }
            for doc_id in pdf[id_col].astype("int64"):
                i = int(doc_id)
                w, h = 1 + i % 19, 1 + i % 11
                gray = i % 2 == 1
                quality = 80 + (i % 4) * 5
                px = synth_pixels(w, h, i, gray=gray)
                prog_payload = encode_jpeg_progressive(px, quality=quality)
                bw_, bh_, bn_, bpx = decode_jpeg(encode_jpeg(px, quality=quality))
                pw_, ph_, pn_, ppx = decode_jpeg(prog_payload)
                equal = (bw_, bh_, bn_) == (pw_, ph_, pn_) and np.array_equal(
                    bpx, ppx
                )
                out["doc_id"].append(i)
                out["width"].append(pw_)
                out["height"].append(ph_)
                out["bpp"].append(8 * pn_)
                out["n_scans"].append(prog_payload.count(b"\xff\xda"))
                out["prog_equals_baseline"].append(bool(equal))
            yield pd.DataFrame(
                {
                    k: pd.array(
                        v,
                        dtype="boolean" if k == "prog_equals_baseline" else "Int64",
                    )
                    for k, v in out.items()
                }
            )

    return map_ordered(
        df.select(id_col), id_col, lambda d: d.mapInPandas(process, JPEG_PROGRESSIVE_SCHEMA)
    )


JPEG_420_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_mcus", LongType()),
        StructField("n_restarts", LongType()),
        StructField("max_err_le_4", BooleanType()),
    ]
)


def synth_and_jpeg_420_restart(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Round-5 4:2:0 + restart-marker JPEG end-to-end: per row, encode the
    synthetic RGB image with 2x2-subsampled chroma and a seed-derived
    restart interval, decode it (interleaved four-luma-block MCUs, RSTm
    consumption with DC-predictor reset, chroma box-upsample), and emit
    the counted RSTm markers plus a provable error bound. The synthetics
    have CONSTANT chroma, so subsampling is exactly lossless there and
    the measured max round-trip error (2, same as 4:4:4) bounds at 4 with
    margin; the restart count is exact container arithmetic
    ((n_mcus - 1) // interval) that one marker slip breaks."""
    import numpy as np

    from rtcdb_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg_420,
        synth_pixels,
    )

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {f.name: [] for f in JPEG_420_SCHEMA.fields}
            for doc_id in pdf[id_col].astype("int64"):
                i = int(doc_id)
                w, h = 1 + i % 21, 1 + i % 13
                quality = 85 + (i % 3) * 5
                ri = 1 + i % 4
                px = synth_pixels(w, h, i)
                payload = encode_jpeg_420(
                    px, quality=quality, restart_interval=ri
                )
                got_w, got_h, _n, back = decode_jpeg(payload)
                err = int(
                    np.abs(back.astype(np.int64) - px.astype(np.int64)).max()
                )
                n_rst = sum(
                    1
                    for j in range(len(payload) - 1)
                    if payload[j] == 0xFF and 0xD0 <= payload[j + 1] <= 0xD7
                )
                n_mcus = ((w + 15) // 16) * ((h + 15) // 16)
                out["doc_id"].append(i)
                out["width"].append(got_w)
                out["height"].append(got_h)
                out["n_mcus"].append(n_mcus)
                out["n_restarts"].append(n_rst)
                out["max_err_le_4"].append(bool(err <= 4))
            yield pd.DataFrame(
                {
                    k: pd.array(
                        v, dtype="boolean" if k == "max_err_le_4" else "Int64"
                    )
                    for k, v in out.items()
                }
            )

    return map_ordered(
        df.select(id_col), id_col, lambda d: d.mapInPandas(process, JPEG_420_SCHEMA)
    )


JPEG_PROG_420_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_mcus", LongType()),
        StructField("n_scans", LongType()),
        StructField("prog_equals_baseline", BooleanType()),
    ]
)


def synth_and_jpeg_progressive_420(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Round-6 PROGRESSIVE + 4:2:0 JPEG end-to-end (closes the r5 honest
    gate on the combination): per row, encode the synthetic RGB image as
    baseline 4:2:0 AND as progressive 4:2:0 (Annex-G scan script over the
    subsampled coefficient set: interleaved MCU-order DC scans,
    per-component non-interleaved AC scans over the TRUE block grid),
    decode both, and emit whether the pixels are BIT-IDENTICAL — they
    must be, since both serializations carry the same quantized
    coefficients. Seed-derived dims up to 37x29 deliberately hit the
    cases where the luma storage grid (MCU-padded to 16) holds an extra
    block row/column the non-interleaved scans must skip — the one place
    the combination can silently slip. n_scans counts emitted SOS
    markers (always 8: DC first, 3x AC first, DC refine, 3x AC refine)."""
    import numpy as np

    from rtcdb_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg_420,
        encode_jpeg_progressive_420,
        synth_pixels,
    )

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                f.name: [] for f in JPEG_PROG_420_SCHEMA.fields
            }
            for doc_id in pdf[id_col].astype("int64"):
                i = int(doc_id)
                w, h = 1 + i % 37, 1 + i % 29
                quality = 80 + (i % 4) * 5
                px = synth_pixels(w, h, i)
                prog_payload = encode_jpeg_progressive_420(px, quality=quality)
                bw_, bh_, bn_, bpx = decode_jpeg(
                    encode_jpeg_420(px, quality=quality)
                )
                pw_, ph_, pn_, ppx = decode_jpeg(prog_payload)
                equal = (bw_, bh_, bn_) == (pw_, ph_, pn_) and np.array_equal(
                    bpx, ppx
                )
                out["doc_id"].append(i)
                out["width"].append(pw_)
                out["height"].append(ph_)
                out["n_mcus"].append(((w + 15) // 16) * ((h + 15) // 16))
                out["n_scans"].append(prog_payload.count(b"\xff\xda"))
                out["prog_equals_baseline"].append(bool(equal))
            yield pd.DataFrame(
                {
                    k: pd.array(
                        v,
                        dtype="boolean" if k == "prog_equals_baseline" else "Int64",
                    )
                    for k, v in out.items()
                }
            )

    return map_ordered(
        df.select(id_col), id_col, lambda d: d.mapInPandas(process, JPEG_PROG_420_SCHEMA)
    )


APNG_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_frames", LongType()),
        StructField("n_fdat", LongType()),
        StructField("compose_equals_reference", BooleanType()),
    ]
)


def synth_and_apng_animate(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Round-6 APNG end-to-end (closes the 'APNG animation out of scope'
    gate): per row, build a real animated PNG — full-canvas RGBA8 first
    frame in IDAT, seed-derived sub-rectangle frames in fdAT chunks with
    rotating dispose_op (NONE/BACKGROUND/PREVIOUS) and alternating
    blend_op (SOURCE/OVER) — decode it back through the chunk parser +
    zlib + unfilter + composition pipeline, and compare every composed
    frame BIT-EXACTLY against an independent straight-line numpy
    composition of the same frame plan (no chunk machinery). One slipped
    sequence number, mis-applied dispose revert, or OVER-blend rounding
    difference flips the flag. n_fdat is exact container arithmetic."""
    import numpy as np

    from rtcdb_spark.functions.multimodal import decode_apng, make_apng

    def _plan(i: int):
        W, H = 8 + i % 13, 6 + i % 9
        n_frames = 2 + i % 3
        idx = np.arange(H * W * 4, dtype=np.int64)
        base = ((i * 31 + idx * 7) % 256).astype(np.uint8).reshape(H, W, 4)
        frames = [{"px": base, "dispose": 0, "blend": 0}]
        for k in range(1, n_frames):
            fw, fh = 1 + (i + k) % 3, 1 + (i + 2 * k) % 3
            x = (i * 5 + k * 3) % (W - fw + 1)
            y = (i * 7 + k * 5) % (H - fh + 1)
            fi = np.arange(fh * fw * 4, dtype=np.int64)
            px = ((i * 13 + k * 101 + fi * 7) % 256).astype(np.uint8).reshape(
                fh, fw, 4
            )
            frames.append(
                {"px": px, "x": x, "y": y, "dispose": k % 3,
                 "blend": (i + k) % 2}
            )
        return W, H, frames

    def _reference(W: int, H: int, frames: list[dict]):
        """Straight-line composition — deliberately NOT the decoder."""
        canvas = np.zeros((H, W, 4), dtype=np.float64)
        out = []
        for fr in frames:
            px = fr["px"].astype(np.float64)
            fh, fw = px.shape[:2]
            x, y = fr.get("x", 0), fr.get("y", 0)
            region = (slice(y, y + fh), slice(x, x + fw))
            saved = canvas[region].copy()
            if fr["blend"] == 0:
                canvas[region] = px
            else:
                dst = canvas[region]
                sa = px[:, :, 3:4] / 255.0
                da = dst[:, :, 3:4] / 255.0
                oa = sa + da * (1 - sa)
                oc = np.where(
                    oa > 0,
                    (px[:, :, :3] * sa + dst[:, :, :3] * da * (1 - sa))
                    / np.where(oa > 0, oa, 1),
                    0.0,
                )
                dst[:, :, :3] = np.floor(oc + 0.5)
                dst[:, :, 3] = np.floor(oa[:, :, 0] * 255 + 0.5)
            out.append(canvas.astype(np.uint8).copy())
            if fr["dispose"] == 1:
                canvas[region] = 0
            elif fr["dispose"] == 2:
                canvas[region] = saved
        return out

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {f.name: [] for f in APNG_SCHEMA.fields}
            for doc_id in pdf[id_col].astype("int64"):
                i = int(doc_id)
                W, H, frames = _plan(i)
                payload = make_apng(W, H, i, frames)
                meta, got = decode_apng(payload)
                want = _reference(W, H, frames)
                equal = (
                    meta["n_frames"] == len(frames)
                    and len(got) == len(want)
                    and all(np.array_equal(a, b) for a, b in zip(got, want))
                )
                out["doc_id"].append(i)
                out["width"].append(meta["width"])
                out["height"].append(meta["height"])
                out["n_frames"].append(meta["n_frames"])
                # exact chunk walk (a byte-scan could false-match inside
                # deflate data)
                n_fdat, pos = 0, 8
                while pos + 8 <= len(payload):
                    (clen,) = struct.unpack_from(">I", payload, pos)
                    if payload[pos + 4 : pos + 8] == b"fdAT":
                        n_fdat += 1
                    pos += 12 + clen
                out["n_fdat"].append(n_fdat)
                out["compose_equals_reference"].append(bool(equal))
            yield pd.DataFrame(
                {
                    k: pd.array(
                        v,
                        dtype="boolean"
                        if k == "compose_equals_reference"
                        else "Int64",
                    )
                    for k, v in out.items()
                }
            )

    return map_ordered(
        df.select(id_col), id_col, lambda d: d.mapInPandas(process, APNG_SCHEMA)
    )


PNG_LAYOUT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("bpp", LongType()),
        StructField("pixel_sum", LongType()),
    ]
)


def synth_and_png_layout_decode(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Round-5 full-spec-surface PNG decode: each document exercises one of
    five exotic layouts — 1-bit interlaced grayscale, 16-bit grayscale,
    4-bit paletted with tRNS alpha, 8-bit gray+alpha, and 16-bit RGBA
    interlaced — with seed-derived samples, encoded via `make_png_ext` and
    fully decoded (sub-byte unpacking, big-endian 16-bit samples, PLTE/
    tRNS expansion, Adam7 pass scatter). The decoded pixel sum is the
    proof: one wrong bit-order, pass offset, or palette index and it
    diverges from the analytic oracle."""
    import numpy as np

    from rtcdb_spark.functions.multimodal import (
        decode_png as _dec,
        make_png_ext as _enc,
    )

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {f.name: [] for f in PNG_LAYOUT_SCHEMA.fields}
            for doc_id in pdf[id_col].astype("int64"):
                i = int(doc_id)
                m, w, h = i % 5, 1 + i % 13, 1 + i % 9

                def vals(n: int, mod: int):
                    idx = np.arange(n, dtype=np.int64)
                    return (i * 31 + idx * 7) % mod

                if m == 0:
                    payload = _enc(
                        vals(w * h, 2).reshape(h, w),
                        color_type=0, depth=1, interlace=True,
                    )
                elif m == 1:
                    payload = _enc(
                        vals(w * h, 65536).reshape(h, w), color_type=0, depth=16
                    )
                elif m == 2:
                    j = np.arange(8, dtype=np.int64)
                    pal = np.stack(
                        [(i * 17 + j * 11 + c * 5) % 256 for c in range(3)], axis=1
                    )
                    trns = [(i * 13 + int(x) * 3) % 256 for x in j]
                    payload = _enc(
                        vals(w * h, 8).reshape(h, w),
                        color_type=3, depth=4, palette=pal, trns=trns,
                    )
                elif m == 3:
                    payload = _enc(
                        vals(w * h * 2, 256).reshape(h, w, 2),
                        color_type=4, depth=8,
                    )
                else:
                    payload = _enc(
                        vals(w * h * 4, 65536).reshape(h, w, 4),
                        color_type=6, depth=16, interlace=True,
                    )
                meta, px = _dec(payload)
                out["doc_id"].append(i)
                out["width"].append(meta["width"])
                out["height"].append(meta["height"])
                out["bpp"].append(meta["bpp"])
                out["pixel_sum"].append(int(px.astype(np.int64).sum()))
            yield pd.DataFrame(
                {k: pd.array(v, dtype="Int64") for k, v in out.items()}
            )

    return map_ordered(
        df.select(id_col), id_col, lambda d: d.mapInPandas(process, PNG_LAYOUT_SCHEMA)
    )


JPEG_ROUNDTRIP_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("bpp", LongType()),
        StructField("max_err_le_4", BooleanType()),
        StructField("mean_err_le_1p5", BooleanType()),
    ]
)


def synth_and_jpeg_roundtrip(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a real baseline JFIF per row (even ids → 4:4:4 RGB, odd →
    grayscale; dimensions and quality derived from the id), decode it with
    the pure-Python T.81 decoder, and compare the decoded pixels against
    the exact source (`jpeg.synth_pixels`) — all inside one Arrow-batched
    `mapInPandas` pass. JPEG is lossy, so instead of an exact pixel hash
    the op emits PROVABLE error-bound booleans: the synthetic images are
    per-8x8-block planes (the shape the DCT represents with a handful of
    coefficients), measured round-trip error max<=2 across the corpus, and
    the emitted bounds (max<=4, mean<=1.5) hold with 2x margin — any
    Huffman/DCT/quantizer slip blows far past them. Header metadata
    (width/height/bpp) is exact and oracle-checkable."""
    from rtcdb_spark.functions.jpeg import decode_jpeg, make_jpeg, synth_pixels

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out: dict[str, list] = {
                f.name: [] for f in JPEG_ROUNDTRIP_SCHEMA.fields
            }
            for doc_id in pdf[id_col].astype("int64"):
                i = int(doc_id)
                w, h = 1 + i % 21, 1 + i % 13
                gray = i % 2 == 1
                quality = 85 + (i % 3) * 5
                payload = make_jpeg(w, h, i, gray=gray, quality=quality)
                got_w, got_h, ncomp, px = decode_jpeg(payload)
                src = synth_pixels(w, h, i, gray=gray)
                err = np.abs(px.astype(np.int64) - src.astype(np.int64))
                out["doc_id"].append(i)
                out["width"].append(got_w)
                out["height"].append(got_h)
                out["bpp"].append(8 * ncomp)
                out["max_err_le_4"].append(bool(err.max() <= 4))
                out["mean_err_le_1p5"].append(bool(err.mean() <= 1.5))
            yield pd.DataFrame(
                {
                    k: pd.array(
                        v,
                        dtype="Int64"
                        if k in ("doc_id", "width", "height", "bpp")
                        else "boolean",
                    )
                    for k, v in out.items()
                }
            )

    return map_ordered(
        df.select(id_col), id_col, lambda d: d.mapInPandas(process, JPEG_ROUNDTRIP_SCHEMA)
    )


MP4_SAMPLE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_frames", LongType()),
        StructField("fps", LongType()),
        StructField("duration_ms", LongType()),
        StructField("n_sampled", LongType()),
        StructField("sampled_bytes", LongType()),
        StructField("sampled_byte_sum", LongType()),
    ]
)


def synth_and_mp4_frame_sample(
    df: DataFrame, id_col: str = "doc_id", every_n: int = 3
) -> DataFrame:
    """Synthesize a valid minimal MP4 per row (seed-derived frame count,
    sizes, and payload bytes), then run the real frame-sampling path —
    ftyp check, moov box walk, stsz/stsc/stco resolution to absolute
    offsets, every-nth mdat slice — inside one Arrow-batched `mapInPandas`
    pass. The emitted sum over every sampled frame's sizes AND bytes is
    the proof of correct offset arithmetic: one off-by-one in the chunk
    walk and the byte sum diverges from the analytic oracle."""
    from rtcdb_spark.functions.mp4 import make_mp4, parse_mp4
    from rtcdb_spark.functions.multimodal import frame_sample as _fs

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                f.name: [] for f in MP4_SAMPLE_SCHEMA.fields
            }
            for doc_id in pdf[id_col].astype("int64"):
                i = int(doc_id)
                n_frames = 5 + i % 20
                payload = make_mp4(n_frames, seed=i)
                meta = parse_mp4(payload)
                frames = _fs(payload, every_n=every_n)
                out["doc_id"].append(i)
                out["n_frames"].append(meta["n_samples"])
                out["fps"].append(meta["fps"])
                out["duration_ms"].append(meta["duration_ms"])
                out["n_sampled"].append(len(frames))
                out["sampled_bytes"].append(sum(len(f) for f in frames))
                out["sampled_byte_sum"].append(sum(sum(f) for f in frames))
            yield pd.DataFrame(
                {k: pd.array(v, dtype="Int64") for k, v in out.items()}
            )

    return map_ordered(
        df.select(id_col), id_col, lambda d: d.mapInPandas(process, MP4_SAMPLE_SCHEMA)
    )


def resize_box2(px):
    """Exact 2×2 box downsample of an (H, W, C) uint8 pixel array (H, W
    even): each output pixel is the floor-mean of its 2×2 input block —
    integer arithmetic only, so results are bit-deterministic across
    platforms (no float filter kernels). The standard mipmap/thumbnail
    step of an image-corpus pipeline."""
    import numpy as np

    h, w, c = px.shape
    if h % 2 or w % 2:
        raise ValueError(f"resize_box2 needs even dims, got {h}x{w}")
    a = px.astype(np.int64).reshape(h // 2, 2, w // 2, 2, c)
    return (a.sum(axis=(1, 3)) // 4).astype(np.uint8)


RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("in_width", LongType()),
        StructField("in_height", LongType()),
        StructField("out_width", LongType()),
        StructField("out_height", LongType()),
        StructField("resized_pixel_sum", LongType()),
    ]
)


def synth_resize_roundtrip(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode → resize → re-encode → re-decode per document, Arrow-batched:
    every doc gets an even-dimensioned synthetic PNG, decoded with the real
    codec, box-downsampled 2×, re-encoded as PNG and decoded AGAIN — the
    re-decode must reproduce the resized pixels exactly (asserted in the
    batch, a codec round-trip proof on non-synthetic content), and the
    resized pixel sum goes to the analytic oracle."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out: dict[str, list] = {f.name: [] for f in RESIZE_SCHEMA.fields}
            for doc_id in pdf[id_col].astype("int64"):
                i = int(doc_id)
                w, h = 2 * (1 + i % 6), 2 * (1 + i % 3)
                ch = 3
                _, px = decode_png(make_png(w, h, i, channels=ch))
                small = resize_box2(px)
                # codec round-trip on the resized content: encode the exact
                # pixels (filter 0 rows via make-like path is not applicable
                # — build a PNG from raw pixels directly)
                enc = _png_from_pixels(small)
                _, back = decode_png(enc)
                assert np.array_equal(back, small), "resize re-encode drifted"
                out["doc_id"].append(i)
                out["in_width"].append(w)
                out["in_height"].append(h)
                out["out_width"].append(w // 2)
                out["out_height"].append(h // 2)
                out["resized_pixel_sum"].append(int(small.astype(np.int64).sum()))
            yield pd.DataFrame({k: pd.array(v, dtype="Int64") for k, v in out.items()})

    return map_ordered(
        df.select(id_col), id_col, lambda d: d.mapInPandas(process, RESIZE_SCHEMA)
    )


def _png_from_pixels(px) -> bytes:
    """Encode an (H, W, 3|4) uint8 array as a PNG (filter-0 scanlines) —
    the encoder used on REAL pixel content (make_png synthesizes from a
    formula; this one takes arbitrary pixels)."""
    import zlib

    import numpy as np

    h, w, c = px.shape
    stream = bytearray()
    for y in range(h):
        stream.append(0)
        stream += px[y].astype(np.uint8).tobytes()

    def chunk(ctype: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    color_type = 2 if c == 3 else 6
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(stream)))
        + chunk(b"IEND", b"")
    )


JPEG_ARITH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_blocks", LongType()),
        StructField("uses_sof9_dac", BooleanType()),
        StructField("arith_equals_huffman", BooleanType()),
        StructField("arith_smaller", BooleanType()),
    ]
)


def synth_and_jpeg_arithmetic(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Round-7 ARITHMETIC-coded JPEG end-to-end (closes the oldest media
    gate; `functions/jpeg_arith.py`, libjpeg-interop-tested in unit
    tests): per row, encode the synthetic image as huffman baseline AND
    as SOF9 arithmetic (QM coder, F.1.4.4 conditioning, DAC marker,
    restart markers on every third doc), decode both, and emit whether
    the pixel decodes are BIT-IDENTICAL — they must be, since both
    serializations carry the same quantized coefficients through a
    different entropy layer. `arith_smaller` pins arithmetic coding's
    raison d'etre on every gradient-content doc (gray docs use random
    noise where the advantage still holds at these sizes)."""
    import numpy as np

    from rtcdb_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg,
        synth_pixels,
    )
    from rtcdb_spark.functions.jpeg_arith import encode_jpeg_arith

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {f.name: [] for f in JPEG_ARITH_SCHEMA.fields}
            for doc_id in pdf[id_col].astype("int64"):
                i = int(doc_id)
                w, h = 9 + i % 31, 9 + i % 23
                quality = 75 + (i % 5) * 5
                gray = i % 4 == 0
                rst = 3 if i % 3 == 0 else 0
                px = synth_pixels(w, h, i, gray=gray)
                arith = encode_jpeg_arith(px, quality=quality, restart_interval=rst)
                huff = encode_jpeg(px, quality=quality)
                aw, ah, an, apx = decode_jpeg(arith)
                hw, hh, hn, hpx = decode_jpeg(huff)
                equal = (aw, ah, an) == (hw, hh, hn) and np.array_equal(apx, hpx)
                out["doc_id"].append(i)
                out["width"].append(aw)
                out["height"].append(ah)
                out["n_blocks"].append(((w + 7) // 8) * ((h + 7) // 8))
                out["uses_sof9_dac"].append(
                    b"\xff\xc9" in arith and b"\xff\xcc" in arith
                    and b"\xff\xc4" not in arith
                )
                out["arith_equals_huffman"].append(bool(equal))
                out["arith_smaller"].append(len(arith) < len(huff))
            yield pd.DataFrame(
                {
                    k: pd.array(
                        v,
                        dtype="boolean"
                        if k in ("uses_sof9_dac", "arith_equals_huffman",
                                 "arith_smaller")
                        else "Int64",
                    )
                    for k, v in out.items()
                }
            )

    return map_ordered(
        df.select(id_col), id_col, lambda d: d.mapInPandas(process, JPEG_ARITH_SCHEMA)
    )


JPEG_LOSSLESS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("predictor", LongType()),
        StructField("uses_sof3", BooleanType()),
        StructField("roundtrip_exact", BooleanType()),
    ]
)


def synth_and_jpeg_lossless(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Round-7 LOSSLESS JPEG end-to-end (T.81 Annex H / SOF3,
    `functions/jpeg_lossless.py` — the DICOM coding): per row, a
    deterministic 16-bit image (the depth/medical-sensor shape lossless
    mode exists for) encodes with the doc's predictor (1..7 by id),
    restart markers on every fourth doc, decodes, and must equal the
    input BIT-EXACTLY — lossless means zero tolerance, so any predictor,
    boundary-rule, or modulo-difference slip fails the row."""
    import numpy as np

    from rtcdb_spark.functions.jpeg_lossless import (
        decode_jpeg_lossless,
        encode_jpeg_lossless,
    )

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                f.name: [] for f in JPEG_LOSSLESS_SCHEMA.fields
            }
            for doc_id in pdf[id_col].astype("int64"):
                i = int(doc_id)
                w, h = 5 + i % 23, 5 + i % 17
                pred = 1 + i % 7
                rng = np.random.default_rng(i)
                px = rng.integers(0, 1 << 16, (h, w)).astype(np.int64)
                data = encode_jpeg_lossless(
                    px, predictor=pred,
                    restart_interval=5 if i % 4 == 0 else 0,
                )
                dw, dh, dn, back = decode_jpeg_lossless(data)
                out["doc_id"].append(i)
                out["width"].append(dw)
                out["height"].append(dh)
                out["predictor"].append(pred)
                out["uses_sof3"].append(data[2:4] == b"\xff\xc3")
                out["roundtrip_exact"].append(
                    (dw, dh, dn) == (w, h, 1) and bool(np.array_equal(back, px))
                )
            yield pd.DataFrame(
                {
                    k: pd.array(
                        v,
                        dtype="boolean"
                        if k in ("uses_sof3", "roundtrip_exact")
                        else "Int64",
                    )
                    for k, v in out.items()
                }
            )

    return map_ordered(
        df.select(id_col), id_col, lambda d: d.mapInPandas(process, JPEG_LOSSLESS_SCHEMA)
    )


JPEG_HIERARCHICAL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("levels", LongType()),
        StructField("n_differential_frames", LongType()),
        StructField("uses_dhp", BooleanType()),
        StructField("within_tolerance", BooleanType()),
    ]
)


def synth_and_jpeg_hierarchical(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Round-8 HIERARCHICAL JPEG end-to-end (T.81 Annex J,
    `functions/jpeg_hierarchical.py` — the pyramid/progressive-resolution
    mode): per row, a deterministic smooth image encodes with the doc's
    pyramid depth (1..4 by id), decodes through the DHP / EXP / SOF5
    machinery, and must (a) land back at the full DHP dimensions, (b)
    carry exactly levels-1 differential frames, and (c) reconstruct
    within the DCT-quality tolerance — a broken J.1.1.2 expansion
    filter, a level-shifted differential frame, or a DC-predicted
    differential block blows the error bound immediately."""
    import numpy as np

    from rtcdb_spark.functions.jpeg_hierarchical import (
        decode_jpeg_hierarchical,
        encode_jpeg_hierarchical,
    )

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                f.name: [] for f in JPEG_HIERARCHICAL_SCHEMA.fields
            }
            for doc_id in pdf[id_col].astype("int64"):
                i = int(doc_id)
                w, h = 24 + i % 29, 24 + i % 23
                levels = 1 + i % 4
                yy, xx = np.mgrid[0:h, 0:w]
                px = (
                    128.0
                    + 80.0 * np.sin(yy / (5 + i % 7))
                    + 60.0 * np.cos(xx / (6 + i % 5))
                ).clip(0, 255).astype(np.uint8)
                data = encode_jpeg_hierarchical(px, levels=levels, quality=92)
                dw, dh, dn, back = decode_jpeg_hierarchical(data)
                err = int(np.abs(back.astype(np.int64) - px.astype(np.int64)).max())
                out["doc_id"].append(i)
                out["width"].append(dw)
                out["height"].append(dh)
                out["levels"].append(levels)
                out["n_differential_frames"].append(
                    data.count(b"\xff\xc5")
                )
                out["uses_dhp"].append(data.count(b"\xff\xde") == 1)
                out["within_tolerance"].append(
                    (dw, dh, dn) == (w, h, 1) and err <= 12
                )
            yield pd.DataFrame(
                {
                    k: pd.array(
                        v,
                        dtype="boolean"
                        if k in ("uses_dhp", "within_tolerance")
                        else "Int64",
                    )
                    for k, v in out.items()
                }
            )

    return map_ordered(
        df.select(id_col), id_col, lambda d: d.mapInPandas(process, JPEG_HIERARCHICAL_SCHEMA)
    )
