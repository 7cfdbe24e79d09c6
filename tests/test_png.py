"""Pure-Python PNG codec: lossless round-trips (PSNR = ∞) and real
``fmt='png'`` decode inside the multimodal operators."""

import numpy as np
import pytest

from solaris_spark.functions import pixfmt
from solaris_spark.functions.png import decode_png, encode_png


class TestCodec:
    @pytest.mark.parametrize("c", [1, 2, 3, 4])
    @pytest.mark.parametrize("dtype", [np.uint8, np.uint16])
    @pytest.mark.parametrize("ft", [0, 1, 2, 3, 4])
    def test_roundtrip_exact(self, c, dtype, ft):
        rng = np.random.default_rng(c * 10 + ft)
        hi = 255 if dtype == np.uint8 else 65535
        arr = rng.integers(0, hi, size=(c, 23, 31)).astype(dtype)
        back = decode_png(encode_png(arr, filter_type=ft))
        assert back.dtype == arr.dtype
        assert np.array_equal(back, arr)

    def test_psnr_infinite(self):
        from solaris_spark.functions.raster import psnr
        rng = np.random.default_rng(7)
        arr = rng.integers(0, 255, size=(3, 40, 40), dtype=np.uint8)
        back = decode_png(encode_png(arr))
        assert psnr(arr, back) == float("inf")

    def test_filters_compress_structure(self):
        """A horizontal gradient must shrink under Sub/Paeth — proves the
        filters are actually applied, not just tagged."""
        g = np.tile(np.arange(256, dtype=np.uint8), (3, 64, 1))
        sizes = {ft: len(encode_png(g, filter_type=ft)) for ft in range(5)}
        assert sizes[1] < sizes[0] / 2 and sizes[4] < sizes[0] / 2

    def test_2d_input_and_validation(self):
        arr = np.zeros((8, 8), dtype=np.uint8)
        assert decode_png(encode_png(arr)).shape == (1, 8, 8)
        with pytest.raises(ValueError):
            encode_png(np.zeros((5, 8, 8), dtype=np.uint8))
        with pytest.raises(ValueError):
            encode_png(np.zeros((1, 8, 8), dtype=np.float32))
        with pytest.raises(ValueError):
            decode_png(b"nope" * 4)


class TestSparkIntegration:
    def test_image_features_on_png(self, spark):
        """fmt='png' flows through the same mapInPandas pipeline as raw
        blobs, with identical features (decode is lossless)."""
        from solaris_spark.operators import multimodal
        rng = np.random.default_rng(3)
        rows = []
        arrs = {}
        for i in range(4):
            arr = rng.integers(0, 255, size=(3, 30, 40), dtype=np.uint8)
            arrs[f"p{i}"] = arr
            rows.append((f"p{i}", bytearray(encode_png(arr)), 40, 30, "png"))
            rows.append((f"r{i}", bytearray(arr.tobytes()), 40, 30,
                         "raw-u8-c3"))
        images = spark.createDataFrame(
            rows, "image_id string, bytes binary, w int, h int, fmt string")
        feats = {r["image_id"]: r for r in
                 multimodal.image_features(images).collect()}
        assert len(feats) == 8
        for i in range(4):
            p, r = feats[f"p{i}"], feats[f"r{i}"]
            assert p["mean"] == r["mean"] and p["phash"] == r["phash"]

    def test_crop_and_resize_on_png(self, spark):
        from solaris_spark.operators import multimodal
        rng = np.random.default_rng(5)
        arr = rng.integers(0, 255, size=(3, 50, 60), dtype=np.uint8)
        images = spark.createDataFrame(
            [("x", bytearray(encode_png(arr)), 60, 50, "png")],
            "image_id string, bytes binary, w int, h int, fmt string")
        out = multimodal.crop_images(images, [10, 39, 29, 5]).collect()[0]
        assert (out["w"], out["h"]) == (20, 35)
        got = pixfmt.decode(
            out["fmt"], bytes(out["bytes"]), out["w"], out["h"])
        # crop re-emits the ORIGINAL fmt tag: png in → png bytes out
        assert out["fmt"] == "png"
        assert np.array_equal(got, arr[:, 5:40, 10:30])
