"""Mask → polygon extraction parity vs the reference goldens
(gdf_from_mask_1/2.geojson; mirrors tests/test_vector/test_mask.py
TestMaskToGDF, geometry-set equality by IoU)."""

import json

import numpy as np
import pytest

from solaris_spark.functions import geom as G, polygonize as P
from solaris_spark.functions.tiffio import read_tiff
from tests import oracles as O

DATA = "/root/reference/solaris/data"


def load_golden(name):
    gj = json.load(open(f"{DATA}/{name}"))
    return [[np.asarray(r, float)[:, :2] for r in f["geometry"]["coordinates"]]
            for f in gj["features"]]


def match_all(polys, gold, thresh=0.999999):
    matched = 0
    for rings, val, area in polys:
        best = 0.0
        for grings in gold:
            inter = O.polygon_intersection_area(rings, grings)
            ga = abs(G.ring_signed_area(grings[0])) - sum(
                abs(G.ring_signed_area(h)) for h in grings[1:])
            union = area + ga - inter
            if union > 0:
                best = max(best, inter / union)
        if best >= thresh:
            matched += 1
    return matched


class TestPolygonize:
    @pytest.mark.needs_reference("sample_fp_mask_from_geojson.tif")
    def test_basic_golden(self):
        mask = read_tiff(f"{DATA}/sample_fp_mask_from_geojson.tif").array[0]
        polys = P.mask_to_polygons(mask, min_area=40)
        gold = load_golden("gdf_from_mask_1.geojson")
        assert len(polys) == len(gold) == 43
        assert match_all(polys, gold) == 43

    @pytest.mark.needs_reference("sample_fp_mask_from_geojson.tif")
    def test_transform_min_area_simplify_golden(self):
        mask = read_tiff(f"{DATA}/sample_fp_mask_from_geojson.tif").array[0]
        im = read_tiff(f"{DATA}/sample_geotiff.tif")
        polys = P.mask_to_polygons(mask, min_area=100,
                                   transform=im.transform, simplify_tol=0.5)
        gold = load_golden("gdf_from_mask_2.geojson")
        assert len(polys) == len(gold) == 35
        assert match_all(polys, gold, thresh=0.999) == 35

    def test_hole_ring(self):
        """Donut region produces exterior + hole."""
        m = np.zeros((12, 12), dtype=np.uint8)
        m[2:10, 2:10] = 255
        m[5:7, 5:7] = 0
        polys = P.mask_to_polygons(m, min_area=0)
        assert len(polys) == 1
        rings, val, area = polys[0]
        assert len(rings) == 2
        assert area == 64 - 4

    def test_diagonal_touch_separates(self):
        """4-connectivity: diagonal-touching pixels are separate components."""
        m = np.zeros((4, 4), dtype=np.uint8)
        m[0, 0] = m[1, 1] = 255
        polys = P.mask_to_polygons(m, min_area=0)
        assert len(polys) == 2

    def test_roundtrip_rasterize(self):
        """polygonize(rasterize(P)) reproduces the same pixel set."""
        from solaris_spark.functions import raster as R
        rings = [np.array([(3.0, 2.0), (17.0, 2.0), (17.0, 12.0),
                           (3.0, 12.0), (3.0, 2.0)])]
        m = R.rasterize_rings(rings, (16, 20), value=255)
        polys = P.mask_to_polygons(m, min_area=0)
        assert len(polys) == 1
        m2 = R.rasterize_rings(polys[0][0], (16, 20), value=255)
        assert np.array_equal(m, m2)


class TestSparkPolygonize:
    @pytest.mark.needs_reference("sample_geotiff.tif")
    def test_operator(self, spark):
        import csv

        from solaris_spark.operators import masks, tiling
        from solaris_spark.sources import synth
        images = synth.fixture_image_df(spark)
        geo = synth.image_geo_table(spark, images)
        ig = tiling.with_geo(images, geo)
        rows = list(csv.DictReader(open(f"{DATA}/sample.csv")))
        lab = spark.createDataFrame(
            [(synth.FIXTURE_IMAGE_ID, i, r["PolygonWKT_Pix"])
             for i, r in enumerate(rows)],
            "image_id string, label_id int, wkt_pix string")
        mk = masks.image_masks(lab, ig, channels=["footprint"])
        polys = masks.masks_to_polygons(mk, min_area=20)
        n = polys.count()
        assert n > 100  # 151 footprints, some merge when touching
        first = polys.orderBy("poly_id").first()
        assert first["wkt"].startswith("POLYGON")
