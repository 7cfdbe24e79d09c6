"""Image dtype/rescale/stitch kernel tests vs the reference's pinned arrays
(tests/test_utils/test_io.py, test_mask.py preds_to_binary case) + Spark
round-trip (tiles → stitch → original image)."""

import numpy as np
import pytest

from solaris_spark.functions import imops


class TestPreprocess:
    def test_rescale_auto_pinned(self):
        """test_io.py:9-42 exact array."""
        im = np.arange(5 * 5 * 3, 5 * 5 * 6).reshape(5, 5, 3).astype("uint16")
        out = imops.preprocess_im_arr(im, "uint16", rescale=True)
        flat = out[:, :, 0].ravel()
        expected = np.array([0, 10, 21, 31, 42, 53, 63, 74, 85, 95, 106, 116,
                             127, 138, 148, 159, 170, 180, 191, 201, 212, 223,
                             233, 244, 255], dtype="uint8")
        assert np.array_equal(flat, expected)
        assert (out[:, :, 0] == out[:, :, 1]).all() and (out[:, :, 0] == out[:, :, 2]).all()

    def test_rescale_single_vals_pinned(self):
        im = np.arange(5 * 5 * 3, 5 * 5 * 6).reshape(5, 5, 3).astype("uint16")
        out = imops.preprocess_im_arr(im, "uint16", rescale=True,
                                      rescale_min=20, rescale_max=200)
        assert out[0, 0, 0] == 77 and out[0, 1, 0] == 82 and out[4, 4, 2] == 182

    def test_format_heuristics(self):
        assert imops.infer_format(np.zeros((3, 3), np.uint8)) == "uint8"
        assert imops.infer_format(np.zeros((3, 3), np.uint16)) == "uint16"
        assert imops.infer_format(np.full((3, 3), 0.5)) == "zero-one normalized"
        assert imops.infer_format(np.array([[-1.0, 2.0]])) == "z-scored"
        assert imops.infer_format(np.array([[100.0, 200.0]])) == "255 float"
        assert imops.infer_format(np.array([[300.0, 60000.0]])) == "65535 float"


class TestPredsToBinary:
    def test_pinned_case(self):
        """test_mask.py:228-257."""
        anarr = np.array([[[0, 0, 0, 1], [0, 0, 1, 0], [0, 0, 0, 1], [0, 0, 0, 0]],
                          [[1, 1, 0, 0], [1, 1, 1, 0], [0, 0, 0, 0], [0, 0, 0, 1]],
                          [[1, 0, 0, 1], [0, 1, 0, 1], [0, 1, 1, 0], [0, 0, 0, 0]]],
                         dtype="float")
        result = imops.preds_to_binary(anarr, [0.25, 1.0, 2.0], bg_threshold=0.5)
        expected = np.array([[255, 255, 0, 255], [255, 255, 255, 255],
                             [0, 255, 255, 0], [0, 0, 0, 255]], dtype="uint8")
        assert np.array_equal(result, expected)


class TestStitchKernel:
    def test_average_and_first(self):
        a = np.full((4, 4, 1), 1.0)
        b = np.full((4, 4, 1), 3.0)
        out = imops.stitch_images([a, b], idx_refs=[(0, 0), (0, 2)],
                                  out_width=6, out_height=4, method="average")
        assert out[0, 0, 0] == 1.0 and out[0, 5, 0] == 3.0
        assert out[0, 3, 0] == 2.0  # overlap averaged
        out_f = imops.stitch_images([a, b], idx_refs=[(0, 0), (0, 2)],
                                    out_width=6, out_height=4, method="first")
        assert out_f[0, 3, 0] == 1.0

    def test_confidence(self):
        a = np.full((2, 2, 1), 0.6)
        b = np.full((2, 2, 1), 0.1)  # |0.1-0.5| > |0.6-0.5| → b wins
        out = imops.stitch_images([a, b], idx_refs=[(0, 0), (0, 0)],
                                  out_width=2, out_height=2,
                                  method="confidence")
        assert (out == 0.1).all()


class TestSparkStitch:
    @pytest.mark.needs_reference("sample_geotiff.tif")
    def test_tiles_roundtrip_fixture(self, spark):
        """raster_tiles → stitch_tiles reproduces the source image exactly."""
        from solaris_spark.operators import imageops, tiling
        from solaris_spark.functions.tiffio import read_tiff
        from solaris_spark.sources import synth

        images = synth.fixture_image_df(spark)
        geo = synth.image_geo_table(spark, images)
        ig = tiling.with_geo(images, geo)
        tiles = tiling.raster_tiles(ig, (90, 90))
        stitched = imageops.stitch_tiles(
            tiles, images.select("image_id", "w", "h"), method="first").collect()[0]
        out = np.frombuffer(stitched["pixels"], dtype=np.uint16).reshape(
            stitched["nchan"], stitched["h"], stitched["w"])
        src = read_tiff("/root/reference/solaris/data/sample_geotiff.tif").array
        assert np.array_equal(out, src)

    @pytest.mark.needs_reference("sample_geotiff.tif")
    def test_to_uint8_operator(self, spark):
        from solaris_spark.operators import imageops
        from solaris_spark.sources import synth
        images = synth.fixture_image_df(spark)  # uint16 fixture
        out = imageops.to_uint8(images, rescale=False).collect()[0]
        arr = np.frombuffer(out["bytes"], dtype=np.uint8)
        assert out["fmt"] == "raw-u8-c1"
        assert arr.max() <= 255 and len(arr) == 900 * 900
