"""PackBits (compression 32773), floating-point predictor 3 (TechNote 3
— the DEM/elevation float-COG layout), and average-resampled overviews.
Reference behavior parity: solaris reads all of these via rasterio/GDAL
(solaris/utils/io.py, solaris/tile/raster_tile.py); these are original
implementations from the TIFF spec documents."""

import os

import numpy as np
import pytest

from solaris_spark.functions import tiffio
from solaris_spark.functions.raster import resize_average
from tests import oracles as O
from tests.test_tiff_foreign import _blocked_tiff


def _dem(h=130, w=170, dtype=np.float32, seed=5):
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    return (900 + 80 * np.sin(yy / 19) * np.cos(xx / 23)
            + rng.normal(0, 0.5, (h, w)))[None].astype(dtype)


class TestPackBits:
    def test_spec_vector(self):
        """The worked example from the TIFF 6.0 spec, section 9."""
        packed = bytes.fromhex("FEAA0280002AFDAA0380002A22F7AA")
        unpacked = bytes.fromhex("AAAAAA80002AAAAAAAAA80002A22"
                                 + "AA" * 10)
        assert tiffio._packbits_decode(packed) == unpacked
        # our own packing decodes back to the same bytes
        assert tiffio._packbits_decode(
            O.packbits_encode(unpacked)) == unpacked

    def test_roundtrip_edge_cases(self):
        for data in (b"", b"\x00", b"ab", b"a" * 1000,
                     bytes(range(256)) * 5, b"xy" * 300 + b"z" * 129):
            assert tiffio._packbits_decode(
                O.packbits_encode(data)) == data

    def test_tiff_roundtrip(self):
        rng = np.random.default_rng(7)
        # runs + noise mix so both packet kinds appear
        a = rng.integers(0, 4, (3, 96, 128)).astype(np.uint8) * 60
        for tile in (None, (64, 64)):
            blob, _, _ = _blocked_tiff(a, comp=32773,
                                       encode=O.packbits_encode, tile=tile)
            assert np.array_equal(tiffio.read_tiff(blob).array, a)

    def test_with_predictor2(self):
        a = np.cumsum(np.ones((1, 64, 64)), axis=2).astype(np.uint8)
        p2, _, _ = _blocked_tiff(a, comp=32773, encode=O.packbits_encode,
                                 predictor=2)
        assert np.array_equal(tiffio.read_tiff(p2).array, a)
        # gradient rows become constant-diff runs: predictor must shrink it
        p1, _, _ = _blocked_tiff(a, comp=32773, encode=O.packbits_encode)
        assert len(p2) < len(p1)

    @pytest.mark.parametrize("compress", ["packbits", "zstd", "LZW"])
    def test_writer_rejects_unknown_compress(self, tmp_path, compress):
        """The writer has no PackBits (or other unknown) encoder: a
        ValueError naming the supported values, and no file."""
        p = tmp_path / "x.tif"
        with pytest.raises(ValueError, match=rf"compress='{compress}'.*"
                           r"supported: None, 'none', 'deflate', 'zlib', "
                           r"'lzw', 'jpeg'"):
            tiffio.write_tiff(str(p), np.zeros((1, 16, 16), dtype=np.uint8),
                              compress=compress)
        assert not p.exists()


class TestFloatPredictor:
    def test_byte_layout_hand_vector(self):
        """1×2 float32 row [1.0, 2.0]: big-endian bytes 3F800000 /
        40000000 → MSB-plane split [3F,40,80,00,00,00,00,00] → stride-1
        diff [3F,01,40,80,00,00,00,00]."""
        block = np.array([[[1.0], [2.0]]], dtype=np.float32)
        got = tiffio._fp_diff(block, 1)
        assert got == bytes.fromhex("3F01408000000000")
        back = tiffio._fp_acc(got, 1, 2, 1, np.dtype("<f4"))
        assert np.array_equal(back, block)

    def test_stride_is_spp(self):
        """Multi-band rows difference same-channel neighbors (stride =
        samples per pixel), not adjacent bytes."""
        block = np.array([[[1.0, 100.0], [1.0, 100.0]]], dtype=np.float32)
        got = tiffio._fp_diff(block, 2)
        # identical pixels ⇒ within each byte plane, everything after the
        # first spp bytes differences to 0 (the diff DOES run across
        # plane boundaries with stride spp — libtiff fpDiff semantics —
        # so only the per-plane tails are guaranteed zero)
        arr = np.frombuffer(got, np.uint8).reshape(4, 4)  # planes × bytes
        assert not arr[:, 2:].any()
        assert np.array_equal(
            tiffio._fp_acc(got, 1, 2, 2, np.dtype("<f4")), block)

    @pytest.mark.parametrize("dtype", [np.float32, np.float64])
    @pytest.mark.parametrize("comp", [None, "deflate", "lzw", "packbits"])
    def test_roundtrip(self, tmp_path, dtype, comp):
        dem = _dem(dtype=dtype)
        p = str(tmp_path / "fp.tif")
        if comp == "packbits":  # the engine writes no PackBits
            blob, _, _ = _blocked_tiff(
                dem, comp=32773, encode=O.packbits_encode, tile=(64, 64),
                predictor=3, extra=[(42113, 2, b"-9999\x00")])
            with open(p, "wb") as f:
                f.write(blob)
        else:
            tiffio.write_tiff(p, dem, tile=(64, 64), compress=comp,
                              predictor=3, nodata=-9999.0)
        out = tiffio.read_tiff(p)
        assert out.array.dtype == dtype
        assert np.array_equal(out.array, dem)
        assert out.nodata == -9999.0

    def test_windowed_read(self, tmp_path):
        dem = _dem()
        p = str(tmp_path / "fpw.tif")
        tiffio.write_tiff(p, dem, tile=(64, 64), compress="deflate",
                          predictor=3)
        w = tiffio.read_tiff_window(p, 17, 33, 80, 90)
        assert np.array_equal(w.array, dem[:, 17:97, 33:123])
        assert w.tags["bytes_read"] < os.path.getsize(p)

    def test_compression_win(self, tmp_path):
        """The point of predictor 3: smooth float fields deflate much
        smaller once exponent/sign bytes are planed and differenced."""
        dem = _dem()
        p3, p1 = str(tmp_path / "a.tif"), str(tmp_path / "b.tif")
        tiffio.write_tiff(p3, dem, compress="deflate", predictor=3)
        tiffio.write_tiff(p1, dem, compress="deflate")
        assert os.path.getsize(p3) < 0.8 * os.path.getsize(p1)

    def test_rejects_int_dtype(self, tmp_path):
        with pytest.raises(ValueError, match="float"):
            tiffio.write_tiff(str(tmp_path / "x.tif"),
                              np.zeros((1, 32, 32), dtype=np.uint8),
                              predictor=3)

    def test_strip_multiband(self, tmp_path):
        rng = np.random.default_rng(9)
        a = rng.normal(0, 10, (3, 77, 91)).astype(np.float32)
        p = str(tmp_path / "mb.tif")
        tiffio.write_tiff(p, a, compress="deflate", predictor=3)
        assert np.array_equal(tiffio.read_tiff(p).array, a)


class TestOverviewResampling:
    def test_average_matches_kernel(self, tmp_path):
        a = (np.arange(3 * 128 * 160).reshape(3, 128, 160) % 251) \
            .astype(np.uint8)
        p = str(tmp_path / "ov.tif")
        tiffio.write_tiff(p, a, tile=(64, 64), compress="deflate",
                          overviews=[2, 4], overview_resampling="average")
        for lvl, fct in ((1, 2), (2, 4)):
            got = tiffio.read_tiff(p, level=lvl).array
            assert np.array_equal(got, resize_average(a, fct, fct))

    def test_nearest_stays_default(self, tmp_path):
        a = (np.arange(1 * 64 * 64).reshape(1, 64, 64) % 255) \
            .astype(np.uint8)
        p = str(tmp_path / "ovn.tif")
        tiffio.write_tiff(p, a, overviews=[2])
        assert np.array_equal(tiffio.read_tiff(p, level=1).array,
                              a[:, ::2, ::2])

    def test_rejects_unknown_mode(self, tmp_path):
        with pytest.raises(ValueError, match="overview_resampling"):
            tiffio.write_tiff(str(tmp_path / "x.tif"),
                              np.zeros((1, 32, 32), dtype=np.uint8),
                              overviews=[2], overview_resampling="cubic")


class TestCodecFuzz:
    """Property-based round-trips for the byte codecs (hypothesis)."""

    def test_packbits_fuzz(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=200, deadline=None)
        @given(st.binary(max_size=2048))
        def rt(data):
            assert tiffio._packbits_decode(
                O.packbits_encode(data)) == data

        rt()

    def test_lzw_fuzz(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=100, deadline=None)
        @given(st.binary(max_size=4096))
        def rt(data):
            assert tiffio._lzw_decode(tiffio._lzw_encode(data)) == data

        rt()

    def test_fp_predictor_fuzz(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=60, deadline=None)
        @given(st.integers(1, 5), st.integers(1, 9), st.integers(1, 4),
               st.integers(0, 2 ** 32 - 1))
        def rt(rows, cols, spp, seed):
            rng = np.random.default_rng(seed)
            block = rng.normal(0, 1e4, (rows, cols, spp)).astype(np.float32)
            raw = tiffio._fp_diff(block, spp)
            back = tiffio._fp_acc(raw, rows, cols, spp, np.dtype("<f4"))
            assert np.array_equal(back, block)

        rt()
