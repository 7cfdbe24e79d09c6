"""Geometry kernel parity vs the reference's pinned test values.

Mirrors /root/reference/tests/test_vector/test_polygon.py,
tests/test_utils/test_geo.py and tests/test_eval/iou_test.py.
"""

import json

import numpy as np
import pytest

from solaris_spark.functions import geom as G

AFF = (0.5, 0.0, 733601.0, 0.0, -0.5, 3725139.0)
SQUARE = "POLYGON ((10 20, 10 10, 20 10, 20 20, 10 20))"
FWD = "POLYGON ((733606 3725129, 733606 3725134, 733611 3725134, 733611 3725129, 733606 3725129))"
REV = "POLYGON ((-1467182 7450238, -1467182 7450258, -1467162 7450258, -1467162 7450238, -1467182 7450238))"


def _coords_equal(wkt_a, wkt_b, atol=0.0):
    ta, pa = G.wkt_parse(wkt_a)
    tb, pb = G.wkt_parse(wkt_b)
    assert ta == tb
    return all(np.allclose(a, b, atol=atol) for a, b in zip(pa, pb))


class TestAffine:
    def test_forward(self):
        assert _coords_equal(G.transform_wkt(SQUARE, AFF), FWD)

    def test_inverse(self):
        assert _coords_equal(G.transform_wkt(SQUARE, AFF, inverse=True), REV)

    def test_gdal_order(self):
        gdal = [733601.0, 0.5, 0.0, 3725139.0, 0.0, -0.5]
        assert G.gdal_to_affine(gdal) == AFF
        long9 = [0.5, 0.0, 733601.0, 0.0, -0.5, 3725139.0, 0.0, 0.0, 1.0]
        assert G.gdal_to_affine(long9) == AFF

    def test_roundtrip(self):
        there = G.transform_wkt(SQUARE, AFF)
        back = G.transform_wkt(there, AFF, inverse=True)
        assert _coords_equal(back, SQUARE, atol=1e-9)


# pinned strings from tests/test_utils/test_geo.py:134-151
UTM_POLY = "POLYGON ((736687.5456353347 3722455.06780279, 736686.9301210654 3722464.96326352, 736691.6397869177 3722470.9059681, 736705.5443059544 3722472.614050498, 736706.8992101226 3722462.858909504, 736704.866059878 3722459.457111885, 736713.1443474176 3722452.103498172, 736710.0312805283 3722447.309985571, 736700.3886167214 3722454.263705271, 736698.4577440721 3722451.98534527, 736690.1272768064 3722451.291527834, 736689.4108667439 3722455.113813923, 736687.5456353347 3722455.06780279))"
LL_POLY = "POLYGON ((-84.4487639 33.6156071, -84.44876790000001 33.6156964, -84.4487156 33.61574889999999, -84.44856540000001 33.6157612, -84.44855339999999 33.61567300000001, -84.44857620000001 33.6156428, -84.448489 33.6155747, -84.4485238 33.6155322, -84.4486258 33.615597, -84.4486472 33.61557689999999, -84.4487371 33.6155725, -84.4487438 33.6156071, -84.4487639 33.6156071))"


class TestReproject:
    def test_utm_to_wgs84(self):
        got = G.reproject_wkt(UTM_POLY, 32616, 4326)
        _, pg = G.wkt_parse(got)
        _, pe = G.wkt_parse(LL_POLY)
        sim = G.polygon_intersection_area(pg, pe) / G.polygon_area(LL_POLY)
        assert sim > 0.99999

    def test_wgs84_to_utm(self):
        got = G.reproject_wkt(LL_POLY, 4326, 32616)
        _, pg = G.wkt_parse(got)
        _, pe = G.wkt_parse(UTM_POLY)
        sim = G.polygon_intersection_area(pg, pe) / G.polygon_area(UTM_POLY)
        assert sim > 0.99999

    def test_roundtrip_micron(self):
        got = G.reproject_wkt(UTM_POLY, 32616, 4326)
        back = G.reproject_wkt(got, 4326, 32616)
        _, pb = G.wkt_parse(back)
        _, pi = G.wkt_parse(UTM_POLY)
        assert np.abs(pb[0] - pi[0]).max() < 1e-4  # sub-0.1mm

    def test_zone_epsg(self):
        assert G.utm_zone_epsg(-84.44, 33.61) == 32616
        assert G.utm_zone_epsg(-84.44, -33.61) == 32716


class TestIoU:
    @pytest.mark.needs_reference("gt.geojson")
    def test_pinned_iou(self):
        """tests/test_eval/iou_test.py:8-19 — 0.073499798744833519 ± 1e-9."""
        gj = json.load(open("/root/reference/solaris/data/gt.geojson"))
        ring = np.asarray(gj["features"][27]["geometry"]["coordinates"][0],
                          dtype=np.float64)[:, :2]
        pred = np.asarray([(736348.0, 3722762.5), (736353.0, 3722762.0),
                           (736354.0, 3722759.0), (736352.0, 3722755.5),
                           (736348.5, 3722755.5), (736346.0, 3722757.5),
                           (736348.0, 3722762.5)])
        iou = G.iou_wkt(G.wkt_dump("POLYGON", [pred]),
                        G.wkt_dump("POLYGON", [ring]))
        assert abs(iou - 0.073499798744833519) < 1e-9

    @pytest.mark.needs_reference("gt.geojson")
    def test_self_intersection_identity(self):
        gj = json.load(open("/root/reference/solaris/data/gt.geojson"))
        for feat in gj["features"][:10]:
            ring = np.asarray(feat["geometry"]["coordinates"][0],
                              dtype=np.float64)[:, :2]
            area = abs(G.ring_signed_area(ring))
            inter = G.polygon_intersection_area([ring], [ring])
            assert abs(inter - area) <= 1e-9 * max(area, 1.0)

    def test_disjoint(self):
        a = np.array([(0.0, 0.0), (1, 0), (1, 1), (0, 1), (0, 0)])
        b = a + 5.0
        assert G.polygon_intersection_area([a], [b]) == 0.0

    def test_polygon_sets_empty_rows(self):
        """None, '' and EMPTY rows have no rings, area 0 and a bbox that
        touches nothing; the polygon rows share one frame and their pair
        IoU follows the shared rule."""
        sq = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
        half = "POLYGON ((5 0, 15 0, 15 10, 5 10, 5 0))"
        around = "POLYGON ((-5 -5, 5 -5, 5 5, -5 5, -5 -5))"
        a, b = G.polygon_sets([sq, None, "", "POLYGON EMPTY"], [half, around])
        assert a.rings[1:] == [[], [], []]
        assert list(a.area) == [100.0, 0.0, 0.0, 0.0]
        for box in b.bbox:
            assert list(G.bbox_hits(a.bbox, box)) == [True, False,
                                                      False, False]
        assert list(G.bbox_hits(b.bbox, a.bbox[3])) == [False, False]
        inter, iou = G.overlap(a, 0, b, 0)
        assert abs(inter - 50.0) < 1e-12 and abs(iou - 50.0 / 150.0) < 1e-12
        assert G.overlap(a, 1, b, 0) == (0.0, 0.0)

    def test_overlap_clamps_to_the_smaller_area(self):
        """The fan-triangle intersection of this pentagon with itself
        overshoots its shoelace area by an ulp in the shared frame; the
        IoU rule clamps it, so self-IoU is exactly 1.0."""
        w = ("POLYGON ((7.733293563541908 2.325109555738393, "
             "0.1784085395397191 8.073297602536648, "
             "-7.623031022223133 2.664462763922294, "
             "-4.889700808568469 -6.426569052674183, "
             "4.601029727709975 -6.636300869523153, "
             "7.733293563541908 2.325109555738393))")
        a, b = G.polygon_sets([w], [w])
        assert G.tri_intersection_area(a.tris[0], b.tris[0]) > a.area[0]
        assert G.overlap(a, 0, b, 0) == (a.area[0], 1.0)
        assert G.iou_wkt(w, w) == 1.0


class TestGrid:
    @pytest.mark.needs_reference("rastertile_test_expected")
    def test_fixture_grid_100_tiles(self):
        bounds = (733601.0, 3725139.0 - 450.0, 733601.0 + 450.0, 3725139.0)
        tb = G.split_geom_bounds(bounds, (90, 90), resolution=(0.5, 0.5))
        assert len(tb) == 100
        import os

        ids = sorted(f"sample_geotiff_{int(t[0])}_{int(t[3])}.tif" for t in tb)
        expected = sorted(os.listdir(
            "/root/reference/solaris/data/rastertile_test_expected"))
        assert ids == expected


class TestWkt:
    def test_roundtrip(self):
        w = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))"
        t, parts = G.wkt_parse(w)
        assert t == "POLYGON" and len(parts) == 2
        assert G.polygon_area(w) == 15.0

    def test_multipolygon(self):
        w = "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))"
        t, parts = G.wkt_parse(w)
        assert t == "MULTIPOLYGON" and len(parts) == 2
        assert G.polygon_area(w) == 2.0

    def test_empty(self):
        t, parts = G.wkt_parse("POLYGON EMPTY")
        assert parts == []


class TestHoleOrientation:
    def test_area_and_iou_orientation_insensitive(self):
        """GEOS/shapely area is ring-orientation-insensitive; a hole wound
        like its exterior must still subtract (ADVICE r01: self-IoU was
        inflated to 1.167 by same-wound holes)."""
        ext = "0 0, 10 0, 10 10, 0 10, 0 0"          # CCW
        hole_same = "2 2, 6 2, 6 6, 2 6, 2 2"        # CCW too (invalid winding)
        hole_opp = "2 2, 2 6, 6 6, 6 2, 2 2"         # CW (valid winding)
        w_bad = f"POLYGON (({ext}), ({hole_same}))"
        w_ok = f"POLYGON (({ext}), ({hole_opp}))"
        assert abs(G.polygon_area(w_bad) - 84.0) < 1e-9
        assert abs(G.iou_wkt(w_bad, w_bad) - 1.0) < 1e-12
        assert abs(G.iou_wkt(w_bad, w_ok) - 1.0) < 1e-12
        # intersection with a probe overlapping the hole region: the hole
        # contributes nothing regardless of winding
        probe = "POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))"
        assert G.iou_wkt(w_bad, probe) == 0.0


class TestBatchedSegmentIntersect:
    def test_matches_scalar_predicate(self):
        """any_segments_intersect ≡ OR of scalar segments_intersect over all
        edge pairs (random + degenerate cases)."""
        import numpy as np
        rng = np.random.default_rng(3)
        for _ in range(200):
            ea = rng.uniform(0, 10, (3, 4))
            eb = rng.uniform(0, 10, (4, 4))
            expect = any(
                G.segments_intersect((e[0], e[1]), (e[2], e[3]),
                                     (f[0], f[1]), (f[2], f[3]))
                for e in ea for f in eb)
            assert G.any_segments_intersect(ea, eb) == expect

    def test_touch_cases(self):
        import numpy as np
        # endpoint touch
        assert G.any_segments_intersect(np.array([[0., 0., 1., 0.]]),
                                        np.array([[1., 0., 2., 5.]]))
        # collinear overlap
        assert G.any_segments_intersect(np.array([[0., 0., 2., 0.]]),
                                        np.array([[1., 0., 3., 0.]]))
        # disjoint parallel
        assert not G.any_segments_intersect(np.array([[0., 0., 2., 0.]]),
                                            np.array([[0., 1., 2., 1.]]))
        # empty
        assert not G.any_segments_intersect(np.empty((0, 4)),
                                            np.array([[0., 0., 1., 1.]]))


class TestAffineGdfGolden:
    @pytest.mark.needs_reference("sample_geotiff.tif")
    def test_sample_csv_affine_golden(self):
        """affine_transform_gdf parity: sample.csv pixel footprints through
        the sample_geotiff affine with precision=0 match aff_gdf_result.csv
        coordinate-for-coordinate (/root/reference/tests/test_vector/
        test_polygon.py:70-77)."""
        import csv

        import numpy as np

        from solaris_spark.functions.tiffio import read_tiff
        DATA = "/root/reference/solaris/data"
        t = tuple(float(v) for v in
                  read_tiff(f"{DATA}/sample_geotiff.tif").transform)
        with open(f"{DATA}/sample.csv") as fh:
            src = [r["PolygonWKT_Pix"] for r in csv.DictReader(fh)]
        with open(f"{DATA}/aff_gdf_result.csv") as fh:
            exp = [r["geometry"] for r in csv.DictReader(fh)]
        assert len(src) == len(exp)
        for wp, we in zip(src, exp):
            got = G.transform_wkt(wp, t)
            rg = [np.round(r, 0) for r in G.wkt_parse(got)[1]]
            re_ = list(G.wkt_parse(we)[1])
            assert len(rg) == len(re_)
            for a, b in zip(rg, re_):
                assert np.array_equal(a, b)


class TestReprojectFullFileGolden:
    @pytest.mark.needs_reference("gt.geojson")
    def test_gt_geojson_both_directions(self):
        """Full-file reproject parity (test_geo.py:108-127): every gt.geojson
        footprint reprojected UTM16→4326 overlaps its gt_epsg4326.json twin
        with area similarity > 0.99999, and back."""
        import json as _json

        def feats(path):
            gj = _json.load(open(f"/root/reference/solaris/data/{path}"))
            out = []
            for f in gj["features"]:
                if f["geometry"]["type"] != "Polygon":
                    continue
                rings = [np.asarray(r, dtype=np.float64)[:, :2]
                         for r in f["geometry"]["coordinates"]]
                out.append(G.wkt_dump("POLYGON", rings))
            return out

        utm = feats("gt.geojson")
        ll = feats("gt_epsg4326.json")
        assert len(utm) == len(ll) and len(utm) > 20
        for wu, wl in zip(utm, ll):
            got = G.reproject_wkt(wu, 32616, 4326)
            _, pg = G.wkt_parse(got)
            _, pe = G.wkt_parse(wl)
            a = G.polygon_area(wl)
            assert G.polygon_intersection_area(pg, pe) / a > 0.99999
            back = G.reproject_wkt(wl, 4326, 32616)
            _, pb = G.wkt_parse(back)
            _, pu = G.wkt_parse(wu)
            au = G.polygon_area(wu)
            assert G.polygon_intersection_area(pb, pu) / au > 0.99999


class TestWebMercator:
    """EPSG 3857 is DEFINED on the sphere, so the closed forms are exact —
    pins are public constants of the projection itself."""

    def test_public_constants(self):
        from solaris_spark.functions import geom as G
        # the famous square bound: lon 180 and lat atan(sinh(pi)) both map
        # to 20037508.342789244 m
        x, y = G.wgs84_to_webmercator(180.0, 85.05112877980659)
        assert abs(float(x) - 20037508.342789244) < 1e-6
        assert abs(float(y) - 20037508.342789244) < 1e-6
        x0, y0 = G.wgs84_to_webmercator(0.0, 0.0)
        assert float(x0) == 0.0 and float(y0) == 0.0
        # one degree of longitude at the equator
        x1, _ = G.wgs84_to_webmercator(1.0, 0.0)
        assert abs(float(x1) - 111319.49079327358) < 1e-8

    def test_roundtrip(self):
        import numpy as np

        from solaris_spark.functions import geom as G
        rng = np.random.default_rng(3)
        lon = rng.uniform(-179, 179, 500)
        lat = rng.uniform(-84, 84, 500)
        x, y = G.wgs84_to_webmercator(lon, lat)
        lon2, lat2 = G.webmercator_to_wgs84(x, y)
        assert np.abs(lon2 - lon).max() < 1e-11
        assert np.abs(lat2 - lat).max() < 1e-11

    def test_reproject_wkt_cross_crs(self):
        import numpy as np

        from solaris_spark.functions import geom as G
        # UTM 16N → 3857 → back, pivoting through lon/lat both ways
        wkt = ("POLYGON ((733601 3725139, 733701 3725139, 733701 3725039, "
               "733601 3725039, 733601 3725139))")
        merc = G.reproject_wkt(wkt, 32616, 3857)
        back = G.reproject_wkt(merc, 3857, 32616)
        _, p0 = G.wkt_parse(wkt)
        _, p1 = G.wkt_parse(back)
        # two Krüger pivots round-trip to ~1.3 µm — sub-millimeter
        assert np.abs(np.asarray(p1[0]) - np.asarray(p0[0])).max() < 1e-5

    def test_unsupported_crs_raises(self):
        import pytest as _pytest

        from solaris_spark.functions import geom as G
        with _pytest.raises(NotImplementedError):
            G.to_wgs84(0.0, 0.0, 27700)  # OSGB needs pyproj

    def test_warp_identity_field_through_3857(self):
        """Bilinear warp 4326→3857 of a linear field reproduces the field
        at dest pixel centers (linear fields are preserved by bilinear
        sampling; the CRS hop must not bend them)."""
        import numpy as np

        from solaris_spark.functions import geom as G
        from solaris_spark.functions import raster as R
        H = W = 40
        src_t = (0.01, 0.0, -0.2, 0.0, -0.01, 0.2)  # lon/lat grid
        cols, rows = np.meshgrid(np.arange(W) + 0.5, np.arange(H) + 0.5)
        lon = src_t[0] * cols + src_t[2]
        lat = src_t[4] * rows + src_t[5]
        field = (3.0 * lon + 2.0 * lat).astype(np.float64)[None]
        # dest grid: interior of the same extent in 3857
        x0, y1 = G.wgs84_to_webmercator(-0.18, 0.18)
        x1, y0 = G.wgs84_to_webmercator(0.18, -0.18)
        ow = oh = 30
        dst_t = ((float(x1) - float(x0)) / ow, 0.0, float(x0),
                 0.0, (float(y0) - float(y1)) / oh, float(y1))
        out = R.warp_bilinear(field, src_t, 4326, dst_t, 3857, (oh, ow),
                              nodata=np.nan)
        dc, dr = np.meshgrid(np.arange(ow) + 0.5, np.arange(oh) + 0.5)
        gx = dst_t[0] * dc + dst_t[2]
        gy = dst_t[4] * dr + dst_t[5]
        dlon, dlat = G.webmercator_to_wgs84(gx, gy)
        exp = 3.0 * dlon + 2.0 * dlat
        ok = ~np.isnan(out[0])
        assert ok.mean() > 0.95
        assert np.abs(out[0][ok] - exp[ok]).max() < 1e-9


class TestWebMercatorClampAndPyprojGate:
    def test_default_matches_proj_no_clamp(self):
        """proj/GDAL semantics by default: no clamping — lat beyond the
        square bound keeps growing without limit (at the pole, float64
        tan(π/2) explodes to ~1.6e16 → y ~37R)."""
        _, y_bound = G.wgs84_to_webmercator(0.0, G._WEBMERC_MAX_LAT)
        _, y_88 = G.wgs84_to_webmercator(0.0, 88.0)
        assert y_88 > y_bound
        _, y_pole = G.wgs84_to_webmercator(0.0, 90.0)
        assert y_pole > 10 * y_bound

    def test_clamp_opt_in_bounds_y(self):
        """clamp=True (web-map-library behavior) pins y to the ±πR square
        for any latitude, including the poles."""
        _, y_bound = G.wgs84_to_webmercator(0.0, G._WEBMERC_MAX_LAT)
        for lat in (86.0, 90.0, 89.999):
            _, y = G.wgs84_to_webmercator(0.0, lat, clamp=True)
            assert np.isclose(y, y_bound)
            assert np.isclose(abs(y), np.pi * G._WEBMERC_R, rtol=1e-12)
        _, y = G.wgs84_to_webmercator(0.0, -90.0, clamp=True)
        assert np.isclose(y, -y_bound)
        # in-domain values are untouched by the clamp
        _, a = G.wgs84_to_webmercator(12.0, 48.0)
        _, b = G.wgs84_to_webmercator(12.0, 48.0, clamp=True)
        assert a == b

    def test_unsupported_crs_raises_without_pyproj(self):
        try:
            import pyproj  # noqa: F401
            pytest.skip("pyproj installed: NotImplementedError branch n/a")
        except ImportError:
            pass
        with pytest.raises(NotImplementedError, match="pyproj"):
            G.to_wgs84(0.0, 0.0, 2263)  # NY state plane

    def test_pyproj_gate_roundtrip(self):
        """With pyproj present, any EPSG resolves (state-plane here);
        skipped in-sandbox where pyproj is absent."""
        pytest.importorskip("pyproj")
        lon, lat = -74.0060, 40.7128
        x, y = G.from_wgs84(lon, lat, 2263)
        lon2, lat2 = G.to_wgs84(x, y, 2263)
        assert abs(lon2 - lon) < 1e-6 and abs(lat2 - lat) < 1e-6
