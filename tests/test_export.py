"""Export-operator golden tests (VERDICT r01 #10: YOLO/COCO/split/round were
implemented but untested).  Goldens: yolo_gdf_result.csv
(/root/reference/tests/test_vector/test_polygon.py:132-141), coco_sample_2
(/root/reference/tests/test_data/test_coco.py:10-25), plus the 47-tile
split_geom case (/root/reference/tests/test_utils/test_geo.py:157-164)."""

import json
import os

import numpy as np
import pandas as pd
import pytest

from solaris_spark.functions import geom as G
from solaris_spark.functions.tiffio import read_tiff
from solaris_spark.operators import export

DATA = "/root/reference/solaris/data"


def _px_labels(spark):
    """geotiff_labels.geojson → pixel-frame label rows (geojson_to_px_gdf
    semantics: inverse image affine, no rounding), feature order = label_id."""
    im = read_tiff(os.path.join(DATA, "sample_geotiff.tif"))
    inv = G.affine_invert(tuple(float(v) for v in im.transform))
    gj = json.load(open(os.path.join(DATA, "geotiff_labels.geojson")))
    rows = []
    for i, f in enumerate(gj["features"]):
        g = f["geometry"]
        assert g["type"] == "Polygon"
        rings = [G.affine_apply(np.asarray(r, dtype=np.float64)[:, :2], inv)
                 for r in g["coordinates"]]
        rows.append((  # truncated property drives the coco category test
            "img", i, G.wkt_dump("POLYGON", rings),
            float(f["properties"]["truncated"])))
    return spark.createDataFrame(
        rows, "image_id string, label_id int, wkt_pix string, truncated double")


class TestYolo:
    @pytest.mark.needs_reference("sample_geotiff.tif")
    def test_golden_w_column(self, spark):
        """w values match yolo_gdf_result.csv to 4dp (test_polygon.py:132)."""
        lab = _px_labels(spark)
        images = spark.createDataFrame([("img", 900, 900)],
                                       "image_id string, w int, h int")
        out = export.yolo_labels(lab, images, min_overlap=0.66).collect()
        truth = pd.read_csv(os.path.join(DATA, "yolo_gdf_result.csv"))
        got_w = sorted(round(r["w"], 4) for r in out)
        exp_w = sorted(truth["w"].round(4))
        assert got_w == exp_w
        # normalized coords in (0, 1]
        assert all(0 < r["w"] <= 1 and 0 <= r["x"] <= 1 for r in out)

    def test_min_overlap_filter(self, spark):
        """A polygon mostly outside the raster is dropped at 0.66."""
        lab = spark.createDataFrame(
            [("i", 0, "POLYGON ((-90 0, 10 0, 10 10, -90 10, -90 0))", 0.0)],
            "image_id string, label_id int, wkt_pix string, truncated double")
        images = spark.createDataFrame([("i", 100, 100)],
                                       "image_id string, w int, h int")
        assert export.yolo_labels(lab, images).count() == 0
        assert export.yolo_labels(lab, images, min_overlap=0.05).count() == 1


class TestCoco:
    @pytest.mark.needs_reference("sample_geotiff.tif")
    def test_golden_first_bbox(self, spark):
        """annotations[0].bbox parity with coco_sample_2.json
        (test_coco.py:10-25's 'simplified test')."""
        lab = _px_labels(spark)
        out = (export.coco_annotations(lab, category_col="truncated")
               .orderBy("id").collect())
        exp = json.load(open(os.path.join(DATA, "coco_sample_2.json")))
        assert len(out) == len(exp["annotations"])
        # the golden's annotation order reflects geojson2coco internals —
        # compare the bbox/area MULTISETS (sorted) to 1e-9
        got = np.array(sorted([*r["bbox"], r["area"]] for r in out))
        expm = np.array(sorted([*a["bbox"], a["area"]]
                               for a in exp["annotations"]))
        assert np.allclose(got, expm, atol=1e-9)
        seg = out[0]["segmentation"]
        assert len(seg) % 2 == 0 and len(seg) >= 8

    def test_multipolygon_raises(self, spark):
        lab = spark.createDataFrame(
            [("i", 0, "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)))")],
            "image_id string, label_id int, wkt_pix string")
        with pytest.raises(Exception, match="MultiPolygon"):
            export.coco_annotations(lab).collect()


class TestSplitAndRound:
    def test_split_multi_and_renumber(self, spark):
        lab = spark.createDataFrame(
            [("i", "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), "
                   "((5 5, 6 5, 6 6, 5 6, 5 5)))"),
             ("i", "POLYGON ((9 9, 10 9, 10 10, 9 10, 9 9))"),
             ("j", "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))")],
            "image_id string, wkt string")
        out = export.split_multi_geometries(lab).collect()
        by_img = {}
        for r in out:
            by_img.setdefault(r["image_id"], []).append(r)
        assert len(by_img["i"]) == 3 and len(by_img["j"]) == 2
        assert all(not r["wkt"].startswith("MULTI") for r in out)
        # per-group renumbering: 1..n (utils/geo.py:574-587 cumcount + 1)
        assert sorted(r["geom_seq"] for r in by_img["i"]) == [1, 2, 3]
        assert sorted(r["geom_seq"] for r in by_img["j"]) == [1, 2]

    def test_round_geometry(self, spark):
        lab = spark.createDataFrame(
            [("i", "POLYGON ((0.123456 1.987654, 2.5 0.1, 1.11111 3.33333, "
                   "0.123456 1.987654))")],
            "image_id string, wkt string")
        out = export.round_geometry(lab, precision=2).collect()[0]["wkt"]
        rings = G.wkt_parse(out)[1]
        assert np.allclose(rings[0][0], [0.12, 1.99])
        assert np.allclose(rings[0][2], [1.11, 3.33])


class TestSplitGeom47:
    @pytest.mark.needs_reference("test_polygon_split.geojson")
    def test_47_tiles(self):
        """split_geom on the reprojected test polygon: 1024px tiles at 30 m
        → exactly 47 polygon-touching tiles (test_geo.py:157-164)."""
        gj = json.load(open(os.path.join(DATA, "test_polygon_split.geojson")))
        coords = gj["features"][0]["geometry"]["coordinates"]
        rings = []
        for r in coords:
            arr = np.asarray(r, dtype=np.float64)[:, :2]
            x, y = G.wgs84_to_utm(arr[:, 0], arr[:, 1], 32611)
            rings.append(np.stack([x, y], axis=1))
        allc = np.vstack(rings)
        bounds = (allc[:, 0].min(), allc[:, 1].min(),
                  allc[:, 0].max(), allc[:, 1].max())
        tiles = G.split_geom_bounds(bounds, (1024, 1024), resolution=(30, 30),
                                    geometry_rings=rings)
        assert len(tiles) == 47


class TestCocoFromTileDirs:
    @pytest.mark.needs_reference("rastertile_test_expected")
    def test_sample_3_full_dirs(self, spark):
        """geojson2coco over the full tile dirs (test_coco.py:44-55):
        annotation count matches coco_sample_3.json."""
        out = export.coco_from_tile_dirs(
            spark, os.path.join(DATA, "rastertile_test_expected"),
            os.path.join(DATA, "vectortile_test_expected"))
        exp = json.load(open(os.path.join(DATA, "coco_sample_3.json")))
        rows = out.collect()
        assert len(rows) == len(exp["annotations"])

    @pytest.mark.needs_reference("rastertile_test_expected")
    def test_sample_1_bbox_parity(self, spark):
        """The two tiles coco_sample_1.json was built from: bbox/area
        multisets match to 1e-6 (test_coco.py:27-42)."""
        out = export.coco_from_tile_dirs(
            spark, os.path.join(DATA, "rastertile_test_expected"),
            os.path.join(DATA, "vectortile_test_expected")).collect()
        exp = json.load(open(os.path.join(DATA, "coco_sample_1.json")))
        want_files = {im["file_name"]: im["id"] for im in exp["images"]}
        # my image ids are 1-based over the sorted 100-tile dir; map the
        # two golden tiles to their sorted positions
        names = sorted(os.listdir(os.path.join(DATA,
                                               "rastertile_test_expected")))
        mine_ids = {names.index(fn) + 1 for fn in want_files}
        got = sorted([round(v, 6) for v in r["bbox"]]
                     for r in out if r["image_id"] in mine_ids)
        expb = sorted([round(v, 6) for v in a["bbox"]]
                      for a in exp["annotations"])
        assert len(got) == len(expb)
        assert np.allclose(np.array(got), np.array(expb), atol=1e-6)
