"""Baseline JPEG codec (functions/jpeg.py).

No libjpeg/pillow exists in this sandbox to pin cross-decoder parity, so
correctness is anchored three independent ways:

1. a HAND-BUILT T.81 stream (markers, tables, and entropy bits assembled
   byte-by-byte here, not by the encoder) with a closed-form expected
   output — the decoder must reproduce it exactly;
2. the codec's IDCT checked against a naive O(N^4) direct transform
   written from the T.81 formula in this file;
3. encode→decode round-trips bounded by the quantization envelope across
   sampling layouts, restart intervals, and odd sizes.
"""

import struct

import numpy as np
import pytest

from solaris_spark.functions import jpeg as J
from solaris_spark.functions import pixfmt
from solaris_spark.functions.jpeg import (ZIGZAG, _fdct_blocks,
                                          _idct_blocks, decode_jpeg,
                                          encode_jpeg)


def _smooth_rgb(h, w):
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack([
        100 + 50 * np.sin(yy / 15) + 30 * np.cos(xx / 12),
        120 + 40 * np.cos(yy / 18),
        90 + 60 * np.sin((xx + yy) / 20)]).clip(0, 255).astype(np.uint8)


class TestSpecVectors:
    def test_zigzag_is_a_diagonal_walk(self):
        """Structural spec check: a permutation of 0..63 starting 0,1,8
        whose consecutive entries are always (anti)diagonal or edge-turn
        neighbors in the 8×8 grid."""
        assert sorted(ZIGZAG.tolist()) == list(range(64))
        assert ZIGZAG[0] == 0 and ZIGZAG[1] == 1 and ZIGZAG[2] == 8
        assert ZIGZAG[63] == 63
        for a, b in zip(ZIGZAG[:-1], ZIGZAG[1:]):
            ra, ca, rb, cb = a // 8, a % 8, b // 8, b % 8
            assert abs(ra - rb) <= 1 or abs(ca - cb) <= 1

    def test_hand_built_dc_only_stream(self):
        """8×8 grayscale built byte-by-byte: DQT all-16s, 1-bit Huffman
        tables (DC: code '0' → category 3; AC: code '0' → EOB), entropy
        bits 0|101|0 (+1-padding).  DC = EXTEND(5,3) = 5, dequantized
        5×16 = 80, DC-only IDCT = 80/8 = 10 everywhere, +128 level shift
        → every sample exactly 138."""
        buf = bytearray(b"\xff\xd8")
        buf += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + b"\x10" * 64
        buf += b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, 8, 8, 1) \
            + bytes([1, 0x11, 0])
        dc_bits = bytes([1] + [0] * 15)
        buf += b"\xff\xc4" + struct.pack(">H", 20) + b"\x00" \
            + dc_bits + bytes([3])
        buf += b"\xff\xc4" + struct.pack(">H", 20) + b"\x10" \
            + dc_bits + bytes([0x00])
        buf += b"\xff\xda" + struct.pack(">HB", 8, 1) \
            + bytes([1, 0x00]) + b"\x00\x3f\x00"
        buf += bytes([0b01010111])  # DC sym, '101'=5, AC EOB, 1-pad
        buf += b"\xff\xd9"
        out = decode_jpeg(bytes(buf))
        assert out.shape == (1, 8, 8)
        assert (out == 138).all()

    def test_hand_built_stream_with_one_ac_coefficient(self):
        """Same scaffold plus one AC coefficient: after the DC, the AC
        table's '0' now maps to run/size 0x01 (run 0, size 1) and '10'
        to EOB; bit '0' encodes value −1 (EXTEND(0,1) = −1) at zigzag
        position 1 = natural (0,1).  Expected block computed with the
        independent naive IDCT below."""
        buf = bytearray(b"\xff\xd8")
        buf += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + b"\x10" * 64
        buf += b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, 8, 8, 1) \
            + bytes([1, 0x11, 0])
        dc_bits = bytes([1] + [0] * 15)
        buf += b"\xff\xc4" + struct.pack(">H", 20) + b"\x00" \
            + dc_bits + bytes([3])
        ac_bits = bytes([1, 1] + [0] * 14)   # '0'→0x01, '10'→EOB
        buf += b"\xff\xc4" + struct.pack(">H", 21) + b"\x10" \
            + ac_bits + bytes([0x01, 0x00])
        buf += b"\xff\xda" + struct.pack(">HB", 8, 1) \
            + bytes([1, 0x00]) + b"\x00\x3f\x00"
        # DC: '0'+101 ; AC: sym '0', value bit '0' (→ −1), EOB '10' —
        # exactly 8 bits, no padding byte
        buf += bytes([0b01010010])
        buf += b"\xff\xd9"
        out = decode_jpeg(bytes(buf))
        coeff = np.zeros((8, 8))
        coeff[0, 0] = 5 * 16
        coeff[0, 1] = -1 * 16
        exp = np.clip(np.round(_naive_idct(coeff) + 128), 0, 255)
        assert np.array_equal(out[0].astype(np.float64), exp)

    def test_idct_matches_naive_direct_sum(self):
        rng = np.random.default_rng(2)
        blocks = rng.integers(-500, 500, size=(5, 8, 8)).astype(np.float64)
        fast = _idct_blocks(blocks)
        for i in range(5):
            assert np.allclose(fast[i], _naive_idct(blocks[i]), atol=1e-9)

    def test_fdct_is_idct_inverse(self):
        rng = np.random.default_rng(3)
        blocks = rng.uniform(-128, 127, size=(4, 8, 8))
        assert np.allclose(_idct_blocks(_fdct_blocks(blocks)), blocks,
                           atol=1e-9)


def _naive_idct(S):
    """Direct T.81 A.3.3 sum: f(y,x) = 1/4 ΣΣ c(u)c(v) S(v,u) cos…"""
    out = np.zeros((8, 8))
    c = np.ones(8)
    c[0] = 1 / np.sqrt(2)
    for y in range(8):
        for x in range(8):
            s = 0.0
            for v in range(8):
                for u in range(8):
                    s += (c[u] * c[v] * S[v, u]
                          * np.cos((2 * x + 1) * u * np.pi / 16)
                          * np.cos((2 * y + 1) * v * np.pi / 16))
            out[y, x] = s / 4.0
    return out


class TestRoundTrip:
    def test_flat_gray_exact(self):
        arr = np.full((1, 24, 40), 77, dtype=np.uint8)
        assert np.array_equal(decode_jpeg(encode_jpeg(arr, 90)), arr)

    def test_gray_q100_random_within_1(self):
        rng = np.random.default_rng(1)
        arr = rng.integers(0, 256, size=(1, 96, 120), dtype=np.uint8)
        dec = decode_jpeg(encode_jpeg(arr, quality=100))
        assert np.abs(dec.astype(int) - arr.astype(int)).max() <= 1

    @pytest.mark.parametrize("subsample,bound", [(False, 4), (True, 8)])
    def test_smooth_rgb(self, subsample, bound):
        arr = _smooth_rgb(70, 52)
        dec = decode_jpeg(encode_jpeg(arr, quality=95, subsample=subsample))
        d = np.abs(dec.astype(int) - arr.astype(int))
        assert dec.shape == arr.shape
        assert d.max() <= bound and d.mean() < 1.5

    @pytest.mark.parametrize("h,w", [(8, 8), (17, 23), (16, 33), (64, 64),
                                     (9, 40)])
    def test_odd_sizes(self, h, w):
        arr = _smooth_rgb(h, w)
        for sub in (False, True):
            dec = decode_jpeg(encode_jpeg(arr, quality=95, subsample=sub))
            assert dec.shape == arr.shape
            assert np.abs(dec.astype(int) - arr.astype(int)).mean() < 3

    @pytest.mark.parametrize("ri", [1, 2, 5])
    def test_restart_markers(self, ri):
        arr = _smooth_rgb(48, 48)
        enc = encode_jpeg(arr, quality=95, restart_interval=ri)
        assert b"\xff\xdd" in enc
        assert any(bytes([0xFF, 0xD0 + k]) in enc for k in range(8))
        dec = decode_jpeg(enc)
        no_rst = decode_jpeg(encode_jpeg(arr, quality=95))
        assert np.array_equal(dec, no_rst)

    def test_quality_monotone_size(self):
        arr = _smooth_rgb(64, 64)
        sizes = [len(encode_jpeg(arr, quality=q)) for q in (30, 60, 90)]
        assert sizes[0] < sizes[1] < sizes[2]

    def test_psnr_envelope(self):
        from solaris_spark.functions.raster import psnr
        arr = _smooth_rgb(64, 64)
        dec = decode_jpeg(encode_jpeg(arr, quality=95))
        assert psnr(arr, dec) > 40.0


def _multiscan_sequential(arr, quality, subsample, restart):
    """The SOF0 stream ``encode_jpeg`` writes, re-scanned with each
    component in its own non-interleaved scan (T.81 A.2.2: blocks in the
    component's own raster order, one block per MCU).  The header (tables,
    DRI, SOF0) is copied from ``encode_jpeg``'s stream and the
    coefficients are quantized the same way, so both streams must decode
    to the same pixels."""
    std = encode_jpeg(arr, quality=quality, subsample=subsample,
                      restart_interval=restart)
    i = 2
    while std[i + 1] != 0xDA:  # walk segments up to the first SOS
        i += 2 + struct.unpack(">H", std[i + 2: i + 4])[0]
    out = bytearray(std[:i])
    if arr.shape[0] == 3:
        r, g, b = (p.astype(np.float64) for p in arr)
        planes = [0.299 * r + 0.587 * g + 0.114 * b,
                  128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b,
                  128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b]
        if subsample:
            h, w = arr.shape[1:]
            ph, pw = -(-h // 2) * 2, -(-w // 2) * 2
            planes[1:] = [
                np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge")
                .reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
                for p in planes[1:]]
    else:
        planes = [arr[0].astype(np.float64)]
    qts = [J._scaled_qt(J.QT_LUMA, quality).reshape(8, 8),
           J._scaled_qt(J.QT_CHROMA, quality).reshape(8, 8)]
    for ci, plane in enumerate(planes):
        th = min(ci, 1)
        blocks = J._quantize(J._fdct_blocks(J._plane_blocks(plane) - 128.0),
                             qts[th])
        dc = J._enc_table(*(J.DC_CHROMA if th else J.DC_LUMA))
        ac = J._enc_table(*(J.AC_CHROMA if th else J.AC_LUMA))
        out += b"\xff\xda" + struct.pack(">HB", 8, 1) \
            + bytes([ci + 1, th * 0x11, 0, 63, 0])
        step = restart or len(blocks)
        for k, s in enumerate(range(0, len(blocks), step)):
            if k:
                out += bytes([0xFF, 0xD0 + (k - 1) % 8])
            wr = J._BitWriter()
            J._encode_blocks(wr, blocks[s: s + step], dc, ac, 0)
            wr.flush()
            out += wr.out
    return bytes(out + b"\xff\xd9")


class TestMultiScanSequential:
    """SOF0 frames whose components arrive in separate non-interleaved
    scans (a layout ``encode_jpeg`` never writes)."""

    @pytest.mark.parametrize("h,w", [(17, 23), (40, 9), (33, 50)])
    @pytest.mark.parametrize("subsample", [True, False])
    @pytest.mark.parametrize("restart", [0, 3])
    def test_color_equals_interleaved(self, h, w, subsample, restart):
        arr = _smooth_rgb(h, w)
        multi = _multiscan_sequential(arr, 85, subsample, restart)
        assert multi.count(b"\xff\xda") == 3
        want = decode_jpeg(encode_jpeg(arr, quality=85, subsample=subsample,
                                       restart_interval=restart))
        assert np.array_equal(decode_jpeg(multi), want)

    @pytest.mark.parametrize("restart", [0, 2])
    def test_gray_equals_interleaved(self, restart):
        arr = _smooth_rgb(19, 27)[:1]
        multi = _multiscan_sequential(arr, 60, False, restart)
        want = decode_jpeg(encode_jpeg(arr, quality=60,
                                       restart_interval=restart))
        assert np.array_equal(decode_jpeg(multi), want)


class TestErrors:
    def test_not_a_jpeg(self):
        with pytest.raises(ValueError, match="SOI"):
            decode_jpeg(b"\x89PNG1234")

    def test_progressive_without_scans_raises(self):
        buf = (b"\xff\xd8\xff\xc2" + struct.pack(">HBHHB", 11, 8, 8, 8, 1)
               + bytes([1, 0x11, 0]) + b"\xff\xd9")
        with pytest.raises(ValueError, match="no scan"):
            decode_jpeg(buf)

    def test_truncated_scan_raises(self):
        enc = encode_jpeg(_smooth_rgb(32, 32), quality=95)
        with pytest.raises(Exception):
            decode_jpeg(enc[: len(enc) // 2])

    def test_twelve_bit_raises(self):
        buf = (b"\xff\xd8\xff\xc0" + struct.pack(">HBHHB", 11, 12, 8, 8, 1)
               + bytes([1, 0x11, 0]) + b"\xff\xd9")
        with pytest.raises(NotImplementedError, match="12-bit"):
            decode_jpeg(buf)

    def test_encoder_validation(self):
        with pytest.raises(ValueError, match="8-bit"):
            encode_jpeg(np.zeros((1, 8, 8), dtype=np.uint16))
        with pytest.raises(ValueError, match="channels"):
            encode_jpeg(np.zeros((4, 8, 8), dtype=np.uint8))


class TestSparkIntegration:
    def test_image_features_on_jpeg(self, spark):
        """fmt='jpeg' flows through the same mapInPandas pipeline as raw
        blobs; features computed on the decoded pixels are near the raw
        ones (JPEG is lossy — bounded, not equal)."""
        from solaris_spark.operators import multimodal
        rows = []
        arrs = {}
        for i in range(3):
            arr = _smooth_rgb(30 + i, 40 + i)
            arrs[f"j{i}"] = arr
            rows.append((f"j{i}", bytearray(encode_jpeg(arr, quality=95)),
                         arr.shape[2], arr.shape[1], "jpeg"))
        images = spark.createDataFrame(
            rows, "image_id string, bytes binary, w int, h int, fmt string")
        feats = {r["image_id"]: r for r in
                 multimodal.image_features(images).collect()}
        assert len(feats) == 3
        for i in range(3):
            exp_mean = [float(c.mean()) for c in
                        arrs[f"j{i}"].astype(np.float64)]
            got = feats[f"j{i}"]["mean"]
            assert all(abs(a - b) < 1.5 for a, b in zip(got, exp_mean))

    def test_crop_and_resize_keep_jpeg_fmt(self, spark):
        from solaris_spark.operators import multimodal
        arr = _smooth_rgb(50, 60)
        images = spark.createDataFrame(
            [("x", bytearray(encode_jpeg(arr, quality=95)), 60, 50,
              "jpeg")],
            "image_id string, bytes binary, w int, h int, fmt string")
        out = multimodal.crop_images(images, [10, 39, 29, 5]).collect()[0]
        assert out["fmt"] == "jpeg" and (out["w"], out["h"]) == (20, 35)
        got = pixfmt.decode(
            out["fmt"], bytes(out["bytes"]), out["w"], out["h"])
        exp = arr[:, 5:40, 10:30]
        assert got.shape == exp.shape
        assert np.abs(got.astype(int) - exp.astype(int)).mean() < 4
        rs = multimodal.resize_images(images, 30, 25).collect()[0]
        assert rs["fmt"] == "jpeg" and (rs["w"], rs["h"]) == (30, 25)
        dec = pixfmt.decode("jpeg", bytes(rs["bytes"]), 30, 25)
        assert dec.shape == (3, 25, 30)
