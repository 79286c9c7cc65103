"""Pure-Python baseline JPEG codec (functions/jpeg.py) — round-5 wiring of
the round-4 dead code (VERDICT r4 item 1): encode→decode round-trips over
quality levels and both colour modes, marker/format rejection, and the
dispatch integration in functions/multimodal.decode_image.

The reference engine has no media handling (SURVEY §3); the codec is
implemented from the public ITU-T T.81 spec (Annex K tables).
"""

from __future__ import annotations

import numpy as np
import pytest

from rtcdb_spark.functions.jpeg import (
    decode_jpeg,
    encode_jpeg,
    make_jpeg,
    synth_pixels,
)


@pytest.mark.parametrize("quality", [50, 75, 85, 90, 95])
@pytest.mark.parametrize("gray", [False, True])
def test_roundtrip_error_bounded(quality, gray):
    """Synthetic per-block-planar images round-trip within a small error
    bound at every quality level; dims/ncomp are exact."""
    for seed in (0, 3, 7):
        w, h = 1 + seed * 5 % 21, 1 + seed * 3 % 13
        payload = make_jpeg(w, h, seed, gray=gray, quality=quality)
        got_w, got_h, ncomp, px = decode_jpeg(payload)
        assert (got_w, got_h) == (w, h)
        assert ncomp == (1 if gray else 3)
        src = synth_pixels(w, h, seed, gray=gray)
        assert px.shape == src.shape
        err = np.abs(px.astype(np.int64) - src.astype(np.int64))
        # quality>=85 is near-lossless on planar blocks; lower quality
        # coarsens the quantizer but stays bounded on this content
        bound = 4 if quality >= 85 else 16
        assert err.max() <= bound, (quality, gray, seed, int(err.max()))


def test_roundtrip_natural_content_color():
    """Non-planar content (pseudo-random pixels — worst case for the DCT)
    still decodes to something close at quality 95: every stage after
    quantization is exact, so the error is bounded by the quantizer step."""
    rng = np.random.RandomState(42)
    px = rng.randint(0, 256, size=(24, 17, 3)).astype(np.uint8)
    w, h, nc, back = decode_jpeg(encode_jpeg(px, quality=95))
    assert (w, h, nc) == (17, 24, 3)
    err = np.abs(back.astype(np.int64) - px.astype(np.int64))
    # random noise is the DCT's worst case; q95 luma/chroma steps still
    # bound the per-pixel error well under half the dynamic range
    assert err.mean() < 16 and err.max() < 128


def test_non_multiple_of_8_dims_cropped_exactly():
    for w, h in [(1, 1), (7, 9), (8, 8), (9, 16), (23, 5)]:
        got_w, got_h, _, px = decode_jpeg(make_jpeg(w, h, 5, gray=True))
        assert (got_w, got_h) == (w, h)
        assert px.shape == (h, w)


def test_encode_is_deterministic():
    a = make_jpeg(19, 11, 9, gray=False, quality=90)
    b = make_jpeg(19, 11, 9, gray=False, quality=90)
    assert a == b
    assert a[:2] == b"\xff\xd8" and a[-2:] == b"\xff\xd9"


def test_rejects_non_jpeg_and_truncation():
    with pytest.raises(ValueError):
        decode_jpeg(b"PNG not a jpeg")
    payload = make_jpeg(16, 16, 1)
    with pytest.raises((ValueError, IndexError, Exception)):
        decode_jpeg(payload[: len(payload) // 3])  # truncated mid-markers


def test_rejects_lossless_hierarchical_markers():
    """SOF9 sequential-arithmetic AND SOF10 progressive-arithmetic are
    SUPPORTED as of round 7 (tests/test_jpeg_arith.py,
    libjpeg-interop-tested); lossless/hierarchical modes remain honest
    NotImplementedErrors, not wrong answers."""
    for sof in (0xC3, 0xCB, 0xC5, 0xCE):
        payload = bytearray(make_jpeg(8, 8, 2, gray=True))
        idx = payload.find(b"\xff\xc0")
        assert idx > 0
        payload[idx + 1] = sof
        with pytest.raises(NotImplementedError):
            decode_jpeg(bytes(payload))


class TestProgressive:
    """Progressive JPEG (T.81 Annex G): the progressive serializer shares
    the baseline path's quantized coefficients, so its decode must equal
    the baseline decode BIT-EXACTLY — pinning the whole DC/AC first +
    refinement scan machinery, EOB handling, and successive-approximation
    reassembly."""

    def test_progressive_equals_baseline_decode(self):
        from rtcdb_spark.functions.jpeg import encode_jpeg_progressive

        rng = np.random.RandomState(7)
        for trial in range(12):
            gray = trial % 2 == 1
            w, h = 1 + int(rng.randint(33)), 1 + int(rng.randint(33))
            q = [50, 75, 90, 95][trial % 4]
            shape = (h, w) if gray else (h, w, 3)
            px = rng.randint(0, 256, size=shape).astype(np.uint8)
            base = decode_jpeg(encode_jpeg(px, quality=q))
            prog = decode_jpeg(encode_jpeg_progressive(px, quality=q))
            assert base[0:3] == prog[0:3]
            assert np.array_equal(base[3], prog[3]), (trial, shape, q)

    def test_progressive_uses_sof2_and_multiple_scans(self):
        from rtcdb_spark.functions.jpeg import encode_jpeg_progressive

        p = encode_jpeg_progressive(synth_pixels(16, 16, 3), quality=90)
        assert b"\xff\xc2" in p and b"\xff\xc0" not in p
        assert p.count(b"\xff\xda") == 8  # DC first + 3 AC first + DC ref + 3 AC ref

    def test_decoder_handles_eob_runs(self):
        """EOBn (n>0) symbols need custom Huffman tables our encoder does
        not emit — craft two streams by hand, one coding 4 empty-tail
        blocks as a single EOB4, one as 4x EOB0, and assert identical
        decodes."""
        import struct

        from rtcdb_spark.functions.jpeg import (
            _BitWriter,
            _build_codes,
            _DC_LUMA_BITS,
            _DC_LUMA_VALS,
        )

        # flat 9-bit AC table: symbols 0x00..0xFE present, code == symbol
        # (DHT BITS entries are bytes, so one length holds at most 255)
        flat_bits = [0] * 8 + [255] + [0] * 7
        flat_vals = list(range(255))
        flat = _build_codes(flat_bits, flat_vals)
        assert flat[0x20] == (0x20, 9)
        dc_codes = _build_codes(_DC_LUMA_BITS, _DC_LUMA_VALS)

        def craft(use_eobrun: bool) -> bytes:
            out = bytearray(b"\xff\xd8")
            out += b"\xff\xdb" + struct.pack(">HB", 67, 0) + bytes([1] * 64)
            out += b"\xff\xc2" + struct.pack(">HBHHB", 11, 8, 8, 32, 1)
            out += struct.pack("BBB", 1, 0x11, 0)
            out += b"\xff\xc4" + struct.pack(">HB", 19 + 12, 0x00)
            out += bytes(_DC_LUMA_BITS) + bytes(_DC_LUMA_VALS)
            out += b"\xff\xc4" + struct.pack(">HB", 19 + 255, 0x10)
            out += bytes(flat_bits) + bytes(flat_vals)
            # scan 1: DC first, Al=1 — four zero diffs
            out += b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0x00, 0, 0, 0x01])
            bw = _BitWriter()
            for _ in range(4):
                code, length = dc_codes[0]
                bw.write(code, length)
            bw.flush()
            out += bw.buf
            # scan 2: AC first, band 1..63, Al=1
            out += b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0x00, 1, 63, 0x01])
            bw = _BitWriter()
            bw.write(0x02, 9)  # (run 0, ssss 2) at k=1
            bw.write(0b10, 2)  # value +2
            if use_eobrun:
                bw.write(0x20, 9)  # EOB4: r=2 ...
                bw.write(0, 2)  # ... extra bits 0 -> run of 4 blocks
            else:
                for _ in range(4):  # block 0 tail + blocks 1..3
                    bw.write(0x00, 9)
            bw.flush()
            out += bw.buf
            out += b"\xff\xd9"
            return bytes(out)

        a = craft(use_eobrun=True)
        b = craft(use_eobrun=False)
        assert a != b
        wa, ha, na, pa = decode_jpeg(a)
        wb, hb, nb, pb = decode_jpeg(b)
        assert (wa, ha, na) == (32, 8, 1) == (wb, hb, nb)
        assert np.array_equal(pa, pb)
        # the single AC coefficient (2 << Al=1) actually landed: the image
        # is not flat
        assert pa.min() != pa.max()


def test_decode_image_dispatch_routes_jpeg():
    from rtcdb_spark.functions.multimodal import decode_image

    meta = decode_image(make_jpeg(12, 7, 4, gray=False))
    assert meta["width"] == 12 and meta["height"] == 7 and meta["bpp"] == 24
    meta = decode_image(make_jpeg(5, 5, 4, gray=True))
    assert meta["bpp"] == 8
    with pytest.raises(NotImplementedError):
        decode_image(b"\x00\x01unknown-format")


def test_quality_monotonic_size():
    """Higher quality → finer quantizer → larger entropy-coded payload on
    non-trivial content (sanity that the IJG scaling is wired in)."""
    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, size=(32, 32, 3)).astype(np.uint8)
    sizes = [len(encode_jpeg(px, quality=q)) for q in (50, 75, 95)]
    assert sizes[0] < sizes[1] < sizes[2]


class TestRestartMarkers:
    """DRI/RSTm support (T.81 B.2.4.4/E.2.4): restart segments byte-align,
    reset DC prediction, and decode to pixels identical to the
    unrestarted stream — the property that makes segments independently
    decodable (parallel decode of one huge JPEG)."""

    @pytest.mark.parametrize("ri", [1, 2, 5])
    @pytest.mark.parametrize("gray", [True, False])
    def test_restart_roundtrip_identical(self, ri, gray):
        rng = np.random.RandomState(ri * 7 + gray)
        w, h = 30, 21  # 4x3 = 12 MCUs
        shape = (h, w) if gray else (h, w, 3)
        px = rng.randint(0, 256, size=shape).astype(np.uint8)
        plain = decode_jpeg(encode_jpeg(px, quality=90))
        restarted = decode_jpeg(encode_jpeg(px, quality=90, restart_interval=ri))
        assert plain[0:3] == restarted[0:3]
        assert np.array_equal(plain[3], restarted[3])

    def test_marker_count_and_sequence(self):
        px = np.arange(24 * 40 * 3, dtype=np.uint8).reshape(24, 40, 3) % 251
        p = encode_jpeg(px, quality=85, restart_interval=3)
        assert b"\xff\xdd" in p  # DRI segment present
        # 3x5 = 15 MCUs, interval 3 -> RST after MCU 3,6,9,12 = 4 markers,
        # cycling RST0..RST3
        msts = [
            p[i + 1] - 0xD0
            for i in range(len(p) - 1)
            if p[i] == 0xFF and 0xD0 <= p[i + 1] <= 0xD7
        ]
        assert msts == [0, 1, 2, 3]

    def test_corrupt_restart_sequence_rejected(self):
        px = np.zeros((24, 40), dtype=np.uint8)
        p = bytearray(encode_jpeg(px, quality=90, restart_interval=3))
        # find the first RST marker and break its sequence number
        for i in range(len(p) - 1):
            if p[i] == 0xFF and 0xD0 <= p[i + 1] <= 0xD7:
                p[i + 1] = 0xD7  # RST0 -> RST7
                break
        with pytest.raises(ValueError):
            decode_jpeg(bytes(p))

    def test_progressive_scans_with_restarts(self):
        """Crafted progressive stream (DC first + AC first scans) with
        DRI=2 over 4 MCUs must decode identically to the same stream
        without restarts."""
        import struct

        from rtcdb_spark.functions.jpeg import (
            _BitWriter,
            _build_codes,
            _DC_LUMA_BITS,
            _DC_LUMA_VALS,
        )

        flat_bits = [0] * 8 + [255] + [0] * 7
        flat_vals = list(range(255))
        dc_codes = _build_codes(_DC_LUMA_BITS, _DC_LUMA_VALS)

        def craft(with_restart: bool) -> bytes:
            out = bytearray(b"\xff\xd8")
            out += b"\xff\xdb" + struct.pack(">HB", 67, 0) + bytes([1] * 64)
            out += b"\xff\xc2" + struct.pack(">HBHHB", 11, 8, 8, 32, 1)
            out += struct.pack("BBB", 1, 0x11, 0)
            out += b"\xff\xc4" + struct.pack(">HB", 19 + 12, 0x00)
            out += bytes(_DC_LUMA_BITS) + bytes(_DC_LUMA_VALS)
            out += b"\xff\xc4" + struct.pack(">HB", 19 + 255, 0x10)
            out += bytes(flat_bits) + bytes(flat_vals)
            if with_restart:
                out += b"\xff\xdd" + struct.pack(">HH", 4, 2)
            # DC first scan, Al=1: DC values 2,2,2,2 (shifted: 1 each).
            # Without restart: diffs 1,0,0,0; with DRI=2 the predictor
            # resets at MCU 2 -> diffs 1,0,[RST0],1,0
            out += b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0x00, 0, 0, 0x01])
            bw = _BitWriter()

            def dc_diff(d):
                ssss = 0 if d == 0 else d.bit_length()
                code, length = dc_codes[ssss]
                bw.write(code, length)
                if ssss:
                    bw.write(d, ssss)

            dc_diff(1); dc_diff(0)
            if with_restart:
                bw.flush()
                bw.buf += b"\xff\xd0"
            dc_diff(1) if with_restart else dc_diff(0)
            dc_diff(0)
            bw.flush()
            out += bw.buf
            # AC first scan, band 1..63, Al=1: k=1 coefficient +2 per block
            out += b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0x00, 1, 63, 0x01])
            bw = _BitWriter()
            for b in range(4):
                if with_restart and b == 2:
                    bw.flush()
                    bw.buf += b"\xff\xd0"
                bw.write(0x02, 9)
                bw.write(0b10, 2)
                bw.write(0x00, 9)  # EOB0
            bw.flush()
            out += bw.buf
            out += b"\xff\xd9"
            return bytes(out)

        wa, ha, na, pa = decode_jpeg(craft(with_restart=True))
        wb, hb, nb, pb = decode_jpeg(craft(with_restart=False))
        assert (wa, ha, na) == (32, 8, 1) == (wb, hb, nb)
        assert np.array_equal(pa, pb)


class TestChromaSubsampling:
    """4:2:0 (T.81 A.2.3): 2x2-subsampled chroma, four-luma-block MCUs."""

    def test_dims_and_smooth_chroma_accuracy(self):
        from rtcdb_spark.functions.jpeg import encode_jpeg_420

        rng = np.random.RandomState(5)
        for w, h in [(1, 1), (15, 9), (16, 16), (33, 21), (50, 35)]:
            g = rng.randint(0, 256, size=(h, w)).astype(np.uint8)
            px = np.stack([g, g, g], axis=-1)  # gray content: constant chroma
            W, H, N, out = decode_jpeg(encode_jpeg_420(px, quality=92))
            assert (W, H, N) == (w, h, 3)
            err = np.abs(out.astype(int) - px.astype(int))
            # constant chroma survives subsampling exactly; error is the
            # luma DCT path only
            assert err.max() <= 48, (w, h, int(err.max()))

    def test_matches_444_on_constant_chroma_synthetics(self):
        from rtcdb_spark.functions.jpeg import encode_jpeg_420

        for seed in (0, 3, 5):
            px = synth_pixels(33, 21, seed)  # chroma planes are constant
            _, _, _, o444 = decode_jpeg(encode_jpeg(px, quality=90))
            _, _, _, o420 = decode_jpeg(encode_jpeg_420(px, quality=90))
            e444 = np.abs(o444.astype(int) - px.astype(int)).mean()
            e420 = np.abs(o420.astype(int) - px.astype(int)).mean()
            assert abs(e444 - e420) < 0.05, (seed, e444, e420)

    def test_420_payload_smaller_on_noise(self):
        from rtcdb_spark.functions.jpeg import encode_jpeg_420

        rng = np.random.RandomState(9)
        px = rng.randint(0, 256, size=(48, 64, 3)).astype(np.uint8)
        assert len(encode_jpeg_420(px, quality=90)) < 0.8 * len(
            encode_jpeg(px, quality=90)
        )

    def test_420_with_restart_interval(self):
        from rtcdb_spark.functions.jpeg import encode_jpeg_420

        rng = np.random.RandomState(11)
        px = rng.randint(0, 256, size=(35, 50, 3)).astype(np.uint8)
        a = decode_jpeg(encode_jpeg_420(px, quality=90))
        b = decode_jpeg(encode_jpeg_420(px, quality=90, restart_interval=2))
        assert a[0:3] == b[0:3] and np.array_equal(a[3], b[3])

    def test_sof_carries_sampling_factors(self):
        from rtcdb_spark.functions.jpeg import encode_jpeg_420

        p = encode_jpeg_420(synth_pixels(20, 20, 1), quality=90)
        i = p.find(b"\xff\xc0")
        comp0 = p[i + 2 + 8 :]
        assert comp0[1] == 0x22 and comp0[4] == 0x11 and comp0[7] == 0x11

    def test_unsupported_layouts_rejected(self):
        from rtcdb_spark.functions.jpeg import encode_jpeg_420

        with pytest.raises(ValueError):
            encode_jpeg_420(np.zeros((8, 8), dtype=np.uint8))  # not RGB
        p = bytearray(encode_jpeg_420(synth_pixels(16, 16, 2), quality=90))
        i = p.find(b"\xff\xc0")
        # round 7 generalized the gate to "factors must divide the max":
        # a 3x1 chroma under 2x2 luma (3 does not divide... hmax becomes
        # 3, which luma's 2 does not divide) is still honestly rejected
        p[i + 11 + 3 * 1] = 0x31  # comp 1 sampling -> 3x1
        with pytest.raises(NotImplementedError):
            decode_jpeg(bytes(p))


class TestProgressive420:
    """Round 6: progressive + 4:2:0 — the combination previously gated.
    Both serializers share _compute_coefficients_420, so their decodes
    must be bit-identical; the hard part is scan coverage (interleaved
    MCU-order DC vs true-grid non-interleaved AC, T.81 A.2.2/A.2.3)."""

    @pytest.mark.parametrize(
        "h,w",
        [
            (16, 16),  # exact MCU grid
            (24, 40),  # luma true grid SMALLER than MCU-padded storage grid
            (23, 17),  # both dims ragged
            (8, 8),    # single-MCU, quarter-filled
            (33, 31),  # odd chroma dims
            (48, 15),  # single-MCU-column
        ],
    )
    def test_bit_identical_to_baseline_420(self, h, w):
        from rtcdb_spark.functions.jpeg import (
            encode_jpeg_420,
            encode_jpeg_progressive_420,
        )

        rng = np.random.RandomState(h * 100 + w)
        for px in (
            synth_pixels(w, h, seed=h + w),
            rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8),
        ):
            b = decode_jpeg(encode_jpeg_420(px, quality=85))
            p = decode_jpeg(encode_jpeg_progressive_420(px, quality=85))
            assert b[:3] == p[:3]
            assert np.array_equal(b[3], p[3])

    def test_uses_sof2_eight_scans_and_sampling_factors(self):
        from rtcdb_spark.functions.jpeg import encode_jpeg_progressive_420

        p = encode_jpeg_progressive_420(synth_pixels(37, 29, 5), quality=90)
        assert b"\xff\xc2" in p and b"\xff\xc0" not in p
        assert p.count(b"\xff\xda") == 8  # DC, 3xAC, DC-refine, 3xAC-refine
        i = p.find(b"\xff\xc2")
        comp0 = p[i + 2 + 8 :]
        assert comp0[1] == 0x22 and comp0[4] == 0x11 and comp0[7] == 0x11

    def test_rgb_required(self):
        from rtcdb_spark.functions.jpeg import encode_jpeg_progressive_420

        with pytest.raises(ValueError):
            encode_jpeg_progressive_420(np.zeros((8, 8), dtype=np.uint8))


def test_cached_tables_are_read_only():
    """lru_cache hands one shared object to every caller, so the cached
    ndarrays and Huffman maps refuse in-place writes."""
    from rtcdb_spark.functions import jpeg as j

    for arr in (j._zz64(), j._dct_matrix(), j._scaled_quant(j._QUANT_LUMA, 75)):
        with pytest.raises(ValueError):
            arr[0] = 0
    codes = j._build_codes(j._DC_LUMA_BITS, j._DC_LUMA_VALS)
    with pytest.raises(TypeError):
        codes[0] = (0, 1)
    table = j._decode_table(tuple(j._DC_LUMA_BITS), tuple(j._DC_LUMA_VALS))
    with pytest.raises(TypeError):
        table[(1, 0)] = 0
