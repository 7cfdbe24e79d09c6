"""End-to-end Spark tiling parity vs reference fixtures
(mirrors /root/reference/tests/test_tile/test_tile.py)."""

import json
import os
from collections import defaultdict

import numpy as np
import pytest

from solaris_spark.functions import geom as G
from solaris_spark.functions.tiffio import read_tiff
from solaris_spark.operators import tiling
from solaris_spark.sources import synth
from tests import oracles as O

DATA = "/root/reference/solaris/data"


@pytest.fixture(scope="module")
def fixture_ig(spark):
    images = synth.fixture_image_df(spark)
    geo = synth.image_geo_table(spark, images)
    return tiling.with_geo(images, geo)


class TestRasterTiling:
    @pytest.mark.needs_reference("sample_geotiff.tif")
    def test_100_tiles_exact(self, spark, fixture_ig):
        tiles = tiling.raster_tiles(fixture_ig, (90, 90)).collect()
        assert len(tiles) == 100
        exp_dir = os.path.join(DATA, "rastertile_test_expected")
        expected = {f[:-4] for f in os.listdir(exp_dir)}
        got = {r["tile_id"].replace(synth.FIXTURE_IMAGE_ID, "sample_geotiff")
               for r in tiles}
        assert got == expected
        for r in tiles:
            name = r["tile_id"].replace(synth.FIXTURE_IMAGE_ID,
                                        "sample_geotiff") + ".tif"
            g = read_tiff(os.path.join(exp_dir, name)).array
            t = np.frombuffer(r["pixels"], dtype=np.uint16).reshape(
                r["nchan"], r["th"], r["tw"])
            assert np.array_equal(t, g), name


class TestVectorTiling:
    @pytest.mark.needs_reference("sample_geotiff.tif")
    def test_clip_parity(self, spark, fixture_ig):
        grid = tiling.tile_grid(fixture_ig, (90, 90))
        gj = json.load(open(os.path.join(DATA, "geotiff_labels.geojson")))
        rows = []
        for i, f in enumerate(gj["features"]):
            rings = [np.asarray(r, dtype=np.float64)[:, :2]
                     for r in f["geometry"]["coordinates"]]
            rows.append((synth.FIXTURE_IMAGE_ID, i, G.wkt_dump("POLYGON", rings)))
        lab = spark.createDataFrame(
            rows, "image_id string, label_id int, wkt_geo string")
        res = tiling.vector_tiles(lab, grid).collect()

        by_tile = defaultdict(list)
        for r in res:
            by_tile[r["tile_id"]].append(r["wkt_geo"])

        exp_dir = os.path.join(DATA, "vectortile_test_expected")
        n_match = 0
        for fn in sorted(os.listdir(exp_dir)):
            x, y = fn[:-8].split("_")[1:3]
            tid = f"{synth.FIXTURE_IMAGE_ID}_{x}_{y}"
            e = json.load(open(os.path.join(exp_dir, fn)))
            exp_geoms = []
            for f in e["features"]:
                g = f["geometry"]
                polys = ([g["coordinates"]] if g["type"] == "Polygon"
                         else g["coordinates"])
                for poly in polys:
                    exp_geoms.append([np.asarray(r)[:, :2].astype(float)
                                      for r in poly])
            ours = [G.polygon_rings(w) for w in by_tile.get(tid, [])]
            if not exp_geoms:
                assert not ours, fn
                n_match += 1
                continue
            def area(gs):
                return sum(abs(G.ring_signed_area(g[0]))
                           - sum(abs(G.ring_signed_area(h)) for h in g[1:])
                           for g in gs)
            a_our = area(ours)
            inter = sum(O.polygon_intersection_area(go, ge)
                        for go in ours for ge in exp_geoms)
            assert a_our > 0, fn
            assert inter / a_our > 0.99999, fn
            assert abs(area(exp_geoms) - a_our) / area(exp_geoms) < 1e-4, fn
            n_match += 1
        assert n_match == 100

    @pytest.mark.needs_reference("sample_geotiff.tif")
    def test_empty_tiles_anti_join(self, spark, fixture_ig):
        grid = tiling.tile_grid(fixture_ig, (90, 90))
        lab = spark.createDataFrame(
            [(synth.FIXTURE_IMAGE_ID, 0,
              "POLYGON ((733610 3725100, 733640 3725100, 733640 3725130, 733610 3725130, 733610 3725100))")],
            "image_id string, label_id int, wkt_geo string")
        lt = tiling.vector_tiles(lab, grid)
        empties = tiling.empty_tiles(grid, lt)
        assert empties.count() + lt.select("tile_id").distinct().count() == 100


class TestCustomProjTiling:
    @pytest.mark.needs_reference("sample_geotiff_custom_proj.tif")
    def test_16_tiles_exact(self, spark):
        """128x128 tiling of the 3-band int16 custom-proj fixture with
        nodata -9999 — mirrors test_tile.py:55-72 (16 tiles, exact)."""
        im = read_tiff(os.path.join(DATA, "sample_geotiff_custom_proj.tif"))
        a, b, c, d, e, f = im.transform
        images = spark.createDataFrame(
            [("cp", bytearray(im.array.tobytes()), 512, 512, "raw-i16-c3",
              None, None)],
            "image_id string, bytes binary, w int, h int, fmt string, "
            "caption string, phash long")
        geo = spark.createDataFrame(
            [("cp", a, b, c, d, e, f, 9999, -9999.0)],
            "image_id string, a double, b double, c double, d double, "
            "e double, f double, epsg int, nodata double")
        tiles = tiling.raster_tiles(tiling.with_geo(images, geo),
                                    (128, 128)).collect()
        assert len(tiles) == 16
        exp_dir = os.path.join(DATA, "rastertile_test_custom_proj_expected")
        for r in tiles:
            name = r["tile_id"].replace("cp", "sample_geotiff_custom_proj") + ".tif"
            g = read_tiff(os.path.join(exp_dir, name)).array
            t = np.frombuffer(r["pixels"], dtype=np.int16).reshape(
                r["nchan"], r["th"], r["tw"])
            assert np.array_equal(t, g), name


class TestAoiAndFill:
    @pytest.mark.needs_reference("sample_geotiff.tif")
    def test_aoi_restricted_tiling(self, spark, fixture_ig):
        """AOI restriction: grid limited to AOI-touching cells; pixels
        outside the AOI zeroed (raster_tile.py:169-181 semantics)."""
        # AOI = left half of the fixture extent
        aoi = ("POLYGON ((733601 3724689, 733826 3724689, 733826 3725139, "
               "733601 3725139, 733601 3724689))")
        tiles = tiling.raster_tiles(fixture_ig, (90, 90), aoi_wkt=aoi).collect()
        assert 50 <= len(tiles) <= 60  # 5 cols x 10 rows (+ boundary-touch col)
        src = read_tiff(os.path.join(DATA, "sample_geotiff.tif")).array
        for r in tiles:
            t = np.frombuffer(r["pixels"], dtype=np.uint16).reshape(
                r["nchan"], r["th"], r["tw"])
            if r["xmin"] < 733826 and r["xmax"] <= 733826:
                col0 = int((r["xmin"] - 733601) / 0.5)
                row0 = int((3725139 - r["ymax"]) / 0.5)
                assert np.array_equal(t[0], src[0, row0:row0+90, col0:col0+90])

    def test_empty_aoi_gives_no_tiles(self, spark):
        """An AOI with no rings meets no grid cell: zero tiles, and no
        task fails."""
        px = np.full((1, 40, 40), 7, dtype=np.uint8)
        images = spark.createDataFrame(
            [("e", bytearray(px.tobytes()), 40, 40, "raw-u8-c1")],
            "image_id string, bytes binary, w int, h int, fmt string")
        geo = spark.createDataFrame(
            [("e", 0.5, 0.0, 0.0, 0.0, -0.5, 20.0, 32616, 0.0)],
            "image_id string, a double, b double, c double, d double, "
            "e double, f double, epsg int, nodata double")
        ig = tiling.with_geo(images, geo)
        assert len(tiling.raster_tiles(ig, (20, 20)).collect()) == 4
        assert tiling.raster_tiles(ig, (20, 20),
                                   aoi_wkt="POLYGON EMPTY").collect() == []

    def test_fill_nodata(self, spark):
        """nodata pixels replaced by the image's channel means."""
        from solaris_spark.operators import imageops
        px = np.full((1, 90, 90), 7, dtype=np.uint8)
        px[0, :10, :10] = 0  # nodata region
        images = spark.createDataFrame(
            [("f", bytearray(px.tobytes()), 90, 90, "raw-u8-c1", None, None)],
            "image_id string, bytes binary, w int, h int, fmt string, "
            "caption string, phash long")
        geo = spark.createDataFrame(
            [("f", 0.5, 0.0, 0.0, 0.0, -0.5, 45.0, 32616, 0.0)],
            "image_id string, a double, b double, c double, d double, "
            "e double, f double, epsg int, nodata double")
        ig = tiling.with_geo(images, geo)
        tiles = tiling.raster_tiles(ig, (90, 90))
        fv = imageops.channel_fill_values(images)
        filled = tiling.fill_nodata(tiles, fv).collect()[0]
        arr = np.frombuffer(filled["pixels"], dtype=np.uint8).reshape(90, 90)
        assert (arr != 0).all()
        assert arr[0, 0] == int(np.mean(px))  # truncation to uint8

    def test_fill_nodata_formats(self, spark, raw_fmt, raw_image):
        """Every raw tile format fills through its own dtype and channel
        count, and keeps its fmt."""
        from solaris_spark.functions import pixfmt
        from solaris_spark.operators import imageops
        px = raw_image(30, 30)
        px[:, :6, :8] = 0  # nodata region
        images = spark.createDataFrame(
            [("f", bytearray(px.tobytes()), 30, 30, raw_fmt, None, None)],
            "image_id string, bytes binary, w int, h int, fmt string, "
            "caption string, phash long")
        geo = spark.createDataFrame(
            [("f", 0.5, 0.0, 0.0, 0.0, -0.5, 15.0, 32616, 0.0)],
            "image_id string, a double, b double, c double, d double, "
            "e double, f double, epsg int, nodata double")
        tiles = tiling.raster_tiles(tiling.with_geo(images, geo), (30, 30))
        fv = imageops.channel_fill_values(images)
        filled = tiling.fill_nodata(tiles, fv).collect()[0]
        assert filled["fmt"] == raw_fmt
        got = pixfmt.decode(raw_fmt, filled["pixels"], 30, 30)
        want = px.copy()
        means = px.astype(np.float64).mean(axis=(1, 2))
        for ch in range(px.shape[0]):
            want[ch][px[ch] == 0] = np.asarray(means[ch], dtype=px.dtype)
        assert np.array_equal(got, want)


class TestAdviceR01Fixes:
    @pytest.mark.needs_reference("sample_geotiff.tif")
    def test_warped_tiles_have_grid_indices(self, spark, fixture_ig):
        """raster_tiles_warped assigns distinct (tx, ty) from the dest-CRS
        grid (ADVICE r01: was tx=ty=0 for every tile, collapsing grid-keyed
        downstream ops onto one slot)."""
        tiles = tiling.raster_tiles_warped(
            fixture_ig, (64, 64), dest_epsg=4326,
            dest_res=(6e-5, 6e-5), nodata_threshold=0.99).collect()
        assert len(tiles) >= 4
        assert len({(r["tx"], r["ty"]) for r in tiles}) == len(tiles)
        # tx ascends with xmin, ty with ymax (same rank-of-unique scheme
        # as raster_tiles)
        by_tx = sorted(tiles, key=lambda r: r["xmin"])
        assert [r["tx"] for r in by_tx] == sorted(r["tx"] for r in by_tx)

    @pytest.mark.needs_reference("sample_geotiff.tif")
    def test_vector_tiles_tile_pix(self, spark, fixture_ig):
        """tile_px enables the tile-local pixel frame (reference
        vector_tile.py output_type='px'): coords land in [0, tile_px] and
        invert back to the geo frame exactly."""
        grid = tiling.tile_grid(fixture_ig, (90, 90))
        wkt = ("POLYGON ((733610 3725100, 733640 3725100, 733640 3725130, "
               "733610 3725130, 733610 3725100))")
        lab = spark.createDataFrame(
            [(synth.FIXTURE_IMAGE_ID, 0, wkt)],
            "image_id string, label_id int, wkt_geo string")
        rows = tiling.vector_tiles(lab, grid, tile_px=(90, 90)).collect()
        assert rows and all(r["wkt_tile_pix"] is not None for r in rows)
        gl = {g["tile_id"]: g for g in grid.collect()}
        for r in rows:
            g = gl[r["tile_id"]]
            rx = (g["xmax"] - g["xmin"]) / 90.0
            ry = (g["ymax"] - g["ymin"]) / 90.0
            # parse raw (unnormalized) rings: the y-flip into the pixel
            # frame reverses winding, so orientation-normalizing parses
            # would reverse one side of the comparison
            pix = list(G.wkt_parse(r["wkt_tile_pix"])[1])
            geo = list(G.wkt_parse(r["wkt_geo"])[1])
            assert all((p[:, 0] >= -1e-9).all() and (p[:, 0] <= 90 + 1e-9).all()
                       and (p[:, 1] >= -1e-9).all() and (p[:, 1] <= 90 + 1e-9).all()
                       for p in pix)
            for p, q in zip(pix, geo):
                assert np.allclose(g["xmin"] + p[:, 0] * rx, q[:, 0], atol=1e-6)
                assert np.allclose(g["ymax"] - p[:, 1] * ry, q[:, 1], atol=1e-6)

    @pytest.mark.needs_reference("sample_geotiff.tif")
    def test_vector_tiles_no_candidate_pad(self, spark, fixture_ig):
        """Exact floor candidate range: a label strictly inside one tile
        produces exactly one surviving row AND feeds only its own tile to
        the clip refine (no 3x3 pad explosion)."""
        grid = tiling.tile_grid(fixture_ig, (90, 90))
        wkt = ("POLYGON ((733620 3725105, 733630 3725105, 733630 3725115, "
               "733620 3725115, 733620 3725105))")
        lab = spark.createDataFrame(
            [(synth.FIXTURE_IMAGE_ID, 0, wkt)],
            "image_id string, label_id int, wkt_geo string")
        rows = tiling.vector_tiles(lab, grid).collect()
        assert len(rows) == 1
        assert rows[0]["truncated"] == 0


class TestTileGridSynth:
    def test_grid_matches_raster_tiles(self, spark):
        """tile_grid's rows carry the tile ids, grid indices and bounds of
        raster_tiles on the same (synthetic, fixture-free) images."""
        images = synth.images_table(spark, 3, seed=9, include_fixture=False,
                                    min_px=40, max_px=100)
        ig = tiling.with_geo(images, synth.image_geo_table(spark, images,
                                                           seed=9))
        cols = ("tile_id", "image_id", "tx", "ty",
                "xmin", "ymin", "xmax", "ymax")
        grid = sorted(tuple(r) for r in tiling.tile_grid(ig, (32, 32))
                      .select(*cols).collect())
        tiles = sorted(tuple(r) for r in tiling.raster_tiles(ig, (32, 32))
                       .select(*cols).collect())
        assert len({r[1] for r in grid}) == 3 and len(grid) > 3
        assert grid == tiles


class TestVectorTilesSynth:
    def test_zero_area_label_is_dropped(self, spark):
        """A zero-area label (partialDec 0/0) is dropped like the
        reference's NaN row; it does not fail the query, and the other
        label's rows are the rows it gets alone."""
        geo = spark.createDataFrame(
            [("z", 40, 40, 0.5, 0.0, 733600.0, 0.0, -0.5, 3726000.0,
              32616, 0.0)],
            "image_id string, w int, h int, a double, b double, c double, "
            "d double, e double, f double, epsg int, nodata double")
        grid = tiling.tile_grid(geo, (20, 20))

        def rows(wkts):
            labels = spark.createDataFrame(
                list(enumerate(wkts)), "label_id int, wkt_pix string") \
                .selectExpr("'z' AS image_id", "label_id", "wkt_pix")
            return sorted(tuple(r) for r in tiling.vector_tiles(
                tiling.labels_geo(labels, geo), grid).collect())

        square = "POLYGON ((12 12, 28 12, 28 28, 12 28, 12 12))"
        got = rows([square, "POLYGON ((1 1, 2 2, 3 3, 1 1))"])
        assert len(got) == 4 and {r[2] for r in got} == {0}
        assert got == rows([square])

    def test_empty_label_and_null_affine_give_no_rows(self, spark):
        """A ``""`` label, and a label of an image whose affine has a NULL
        ``c``, go through labels_geo (``""`` with a bbox of NULLs; NULL
        geometry and bbox) and give vector_tiles no tile rows, without an
        error; the square's rows are the rows it gets alone."""
        cols = ("image_id string, w int, h int, a double, b double, "
                "c double, d double, e double, f double, epsg int, "
                "nodata double")
        z = ("z", 40, 40, 0.5, 0.0, 733600.0, 0.0, -0.5, 3726000.0,
             32616, 0.0)
        n = ("n",) + z[1:]
        grid = tiling.tile_grid(spark.createDataFrame([z, n], cols),
                                (20, 20))
        geo = spark.createDataFrame([z, n[:5] + (None,) + n[6:]], cols)
        square = "POLYGON ((12 12, 28 12, 28 28, 12 28, 12 12))"

        def run(labels):
            lg = tiling.labels_geo(spark.createDataFrame(
                labels, "image_id string, label_id int, wkt_pix string"), geo)
            return ({r["label_id"]: r for r in lg.collect()},
                    sorted(tuple(r) for r in tiling.vector_tiles(lg, grid)
                           .collect()))

        lg, got = run([("z", 0, square), ("z", 1, ""), ("n", 2, square)])
        assert (lg[1]["wkt_geo"], lg[1]["bbox"]) == ("", [None] * 4)
        assert (lg[2]["wkt_geo"], lg[2]["bbox"]) == (None, None)
        assert len(got) == 4 and {r[2] for r in got} == {0}
        assert got == run([("z", 0, square)])[1]

    def test_nan_affine_coefficient_gives_null_geometry(self, spark):
        """A NaN in any one of an image's six affine coefficients gives its
        label a NULL wkt_geo and bbox, as a NULL does; the clean image's
        label is transformed."""
        clean = (0.5, 0.0, 733600.0, 0.0, -0.5, 3726000.0)
        geo = [("ok",) + clean] + [
            (f"nan-{c}",) + clean[:k] + (float("nan"),) + clean[k + 1:]
            for k, c in enumerate("abcdef")]
        square = "POLYGON ((12 12, 28 12, 28 28, 12 28, 12 12))"
        lg = tiling.labels_geo(
            spark.createDataFrame([(g[0], k, square)
                                   for k, g in enumerate(geo)],
                                  "image_id string, label_id int, "
                                  "wkt_pix string"),
            spark.createDataFrame(geo, "image_id string, a double, "
                                  "b double, c double, d double, "
                                  "e double, f double"))
        got = {r["image_id"]: (r["wkt_geo"], r["bbox"]) for r in lg.collect()}
        assert got.pop("ok") == (
            G.transform_wkt(square, clean),
            [733606.0, 3725986.0, 733614.0, 3725994.0])
        assert got == {f"nan-{c}": (None, None) for c in "abcdef"}
