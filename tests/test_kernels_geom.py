"""Geometry kernel parity vs the reference's pinned test values.

Mirrors /root/reference/tests/test_vector/test_polygon.py,
tests/test_utils/test_geo.py and tests/test_eval/iou_test.py.
"""

import json
import re

import numpy as np
import pytest

from solaris_spark.functions import geom as G
from tests import oracles as O

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
        sim = (O.polygon_intersection_area(pg, pe)
               / G.prepare_polygons([LL_POLY]).area[0])
        assert sim > 0.99999

    def test_wgs84_to_utm(self):
        got = G.reproject_wkt(LL_POLY, 4326, 32616)
        _, pg = G.wkt_parse(got)
        _, pe = G.wkt_parse(UTM_POLY)
        sim = (O.polygon_intersection_area(pg, pe)
               / G.prepare_polygons([UTM_POLY]).area[0])
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
        iou = O.iou_wkt(G.wkt_dump("POLYGON", [pred]),
                        G.wkt_dump("POLYGON", [ring]))
        assert abs(iou - 0.073499798744833519) < 1e-9
        a, b = G.polygon_sets([G.wkt_dump("POLYGON", [pred])],
                              [G.wkt_dump("POLYGON", [ring])])
        assert abs(G.overlaps(a, b)[3][0] - 0.073499798744833519) < 1e-9

    @pytest.mark.needs_reference("gt.geojson")
    def test_self_intersection_identity(self):
        gj = json.load(open("/root/reference/solaris/data/gt.geojson"))
        for feat in gj["features"][:10]:
            ring = np.asarray(feat["geometry"]["coordinates"][0],
                              dtype=np.float64)[:, :2]
            area = abs(G.ring_signed_area(ring))
            inter = O.polygon_intersection_area([ring], [ring])
            assert abs(inter - area) <= 1e-9 * max(area, 1.0)

    def test_disjoint(self):
        a = np.array([(0.0, 0.0), (1, 0), (1, 1), (0, 1), (0, 0)])
        b = a + 5.0
        assert O.polygon_intersection_area([a], [b]) == 0.0

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
        i, j, inter, iou = G.overlaps(a, b)
        assert list(zip(i, j)) == [(0, 0), (0, 1)]
        assert [list(k) for k in G.overlaps(b, a)[:2]] == [[0, 1], [0, 0]]
        assert abs(inter[0] - 50.0) < 1e-12
        assert abs(iou[0] - 50.0 / 150.0) < 1e-12
        assert O.overlap(a, 1, b, 0) == (0.0, 0.0)

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
        _, _, inter, iou = G.overlaps(a, b)
        assert (inter[0], iou[0]) == (a.area[0], 1.0)
        assert O.iou_wkt(w, w) == 1.0


def _ngon(cx, cy, r, n, cw=False):
    ang = np.linspace(0.0, 2 * np.pi, n, endpoint=False) + 0.1
    ring = np.c_[cx + r * np.cos(ang), cy + r * np.sin(ang)]
    ring = ring[::-1] if cw else ring
    return np.vstack([ring, ring[:1]])


def _overlap_shapes():
    """Holes (either winding), a multipolygon, EMPTY rows, zero-area
    rings, edge- and corner-touching squares and identical polygons."""
    sq = np.array([(0.0, 0), (10, 0), (10, 10), (0, 10), (0, 0)])
    a = [G.wkt_dump("POLYGON", [sq]),
         G.wkt_dump("POLYGON", [_ngon(5, 5, 6, 9),
                                _ngon(5, 5, 2, 5, cw=True)]),
         G.wkt_dump("POLYGON", [_ngon(8, 3, 4, 7, cw=True),
                                _ngon(8, 3, 1, 4)]),
         G.wkt_dump("MULTIPOLYGON", [[_ngon(2, 2, 3, 6)],
                                     [sq + 12, _ngon(17, 17, 1.5, 5)]]),
         None, "", "POLYGON EMPTY",
         "POLYGON ((1 1, 2 2, 3 3, 1 1))",
         "POLYGON ((4 4, 9 4, 4 4, 4 9, 4 4))",
         G.wkt_dump("POLYGON", [_ngon(13.1, 7.7, 3.3, 11)])]
    b = [G.wkt_dump("POLYGON", [sq + (10, 2)]),        # shares an edge
         G.wkt_dump("POLYGON", [sq + (10, 10)]),       # shares a corner
         G.wkt_dump("POLYGON", [sq]),                  # identical to a[0]
         a[9], a[1],                                   # identical, holed
         G.wkt_dump("POLYGON", [_ngon(6, 6, 5, 13)]),
         "MULTIPOLYGON EMPTY", "POLYGON ((0 0, 5 5, 0 0))",
         G.wkt_dump("POLYGON", [sq + 40])]             # touches nothing
    return a, b


def _assert_overlaps_are_the_oracle(a_wkts, b_wkts):
    """geom.overlaps == oracles.overlap on every closed-bbox-touching pair,
    i-major, bit for bit, and no other pair; both operand orders."""
    for x, y in ((a_wkts, b_wkts), (b_wkts, a_wkts)):
        a, b = G.polygon_sets(x, y)
        i, j, inter, iou = G.overlaps(a, b)
        bx, by = a.bbox, b.bbox
        want = [(p, q) for p in range(len(x)) for q in range(len(y))
                if bx[p, 0] <= by[q, 2] and by[q, 0] <= bx[p, 2]
                and bx[p, 1] <= by[q, 3] and by[q, 1] <= bx[p, 3]]
        assert list(zip(i.tolist(), j.tolist())) == want
        ref = np.array([O.overlap(a, p, b, q) for p, q in want],
                       dtype=np.float64).reshape(-1, 2)
        assert np.c_[inter, iou].tobytes() == ref.tobytes()


class TestOverlaps:
    @pytest.mark.parametrize("rows", [None, 7])
    @pytest.mark.parametrize("shift", [0.0, 7.3e5])
    def test_matches_the_per_pair_oracle(self, monkeypatch, rows, shift):
        """Every case of _overlap_shapes, also at UTM-sized coordinates and
        with passes cut every 7 triangle pairs (pairs larger than a pass
        go alone)."""
        if rows is not None:
            monkeypatch.setattr(G, "_CLIP_ROWS", rows)
        a, b = _overlap_shapes()
        t = (1.0, 0.0, shift, 0.0, 1.0, 3.7 * shift)
        a = [G.transform_wkt(w, t) if w else w for w in a]
        b = [G.transform_wkt(w, t) for w in b]
        _assert_overlaps_are_the_oracle(a, b)
        *_, inter, iou = G.overlaps(*G.polygon_sets(a, b))
        assert 1.0 in iou.tolist()                 # an identical pair
        assert 0.0 in inter.tolist()               # touching-only pairs

    def test_group_across_the_pass_bound(self):
        """A group of 64-gons whose triangle pairs fill several passes, and
        a 300-gon pair larger than one pass."""
        a = [G.wkt_dump("POLYGON", [_ngon(3 * k, k % 4, 5, 64)])
             for k in range(10)] + [G.wkt_dump("POLYGON",
                                               [_ngon(14, 2, 6, 300)])]
        b = [G.wkt_dump("POLYGON", [_ngon(3 * k + 1, 2, 4, 64, cw=k % 2)])
             for k in range(8)] + [G.wkt_dump("POLYGON",
                                              [_ngon(15, 1, 7, 300)])]
        ga, gb = G.polygon_sets(a, b)
        i, j, _, _ = G.overlaps(ga, gb)
        n = [len(ga.tris[p][1]) * len(gb.tris[q][1]) for p, q in zip(i, j)]
        assert sum(n) > 4 * G._CLIP_ROWS and max(n) > G._CLIP_ROWS
        _assert_overlaps_are_the_oracle(a, b)


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
        assert G.prepare_polygons([w]).area[0] == 15.0

    def test_multipolygon(self):
        w = "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))"
        t, parts = G.wkt_parse(w)
        assert t == "MULTIPOLYGON" and len(parts) == 2
        assert G.prepare_polygons([w]).area[0] == 2.0

    def test_empty(self):
        t, parts = G.wkt_parse("POLYGON EMPTY")
        assert parts == []

    @pytest.mark.parametrize("w", ["", "POLYGON EMPTY"])
    def test_no_geometry_transforms_to_itself_with_nan_bounds(self, w):
        """``""`` and an EMPTY geometry have no vertex: transform_wkt
        returns them as they are, either way round, and geom_bounds gives
        NaN bounds, as pack_polygons reads both as no geometry."""
        assert G.transform_wkt(w, AFF) == w
        assert G.transform_wkt(w, AFF, inverse=True) == w
        assert all(np.isnan(G.geom_bounds(w)))
        assert G.prepare_polygons([w]).area[0] == 0.0

    @pytest.mark.parametrize("text", ["", "  \n\t ", "123 (1 2)"])
    def test_non_wkt_text_raises_value_error(self, text):
        """Text with no leading geometry type is rejected as a ValueError
        naming what it got, not an AttributeError from the parser."""
        with pytest.raises(ValueError, match=re.escape(repr(text.strip()))):
            G.wkt_parse(text)


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
        assert abs(G.prepare_polygons([w_bad]).area[0] - 84.0) < 1e-9
        assert abs(O.iou_wkt(w_bad, w_bad) - 1.0) < 1e-12
        assert abs(O.iou_wkt(w_bad, w_ok) - 1.0) < 1e-12
        a, b = G.polygon_sets([w_bad, w_ok], [w_bad, w_ok])
        assert np.all(np.abs(G.overlaps(a, b)[3] - 1.0) < 1e-12)
        # intersection with a probe overlapping the hole region: the hole
        # contributes nothing regardless of winding
        probe = "POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))"
        assert O.iou_wkt(w_bad, probe) == 0.0


class TestPolygonArea:
    def test_prepare_polygons_area_is_exterior_minus_holes(self):
        """The engine's one area rule, |Σ signed ring area| after
        pack_polygons orients each ring, equals |exterior| − Σ|holes| per
        polygon on seeded star polygons with 0 to 3 holes wound either
        way, and on multipolygons of two or three of them, at pixel and
        UTM coordinates."""
        rng = np.random.default_rng(29)

        def ring(cx, cy, radius, n, ccw):
            # one vertex per 2π/n sector: with n >= 8 no edge comes nearer
            # the centre than 0.6 · cos(π/4) ≈ 0.42 of the radius
            t = (np.arange(n) + rng.uniform(0, 1, n)) * 2 * np.pi / n
            t = t if ccw else t[::-1]
            r = radius * rng.uniform(0.6, 1.0, n)
            xy = np.c_[cx + r * np.cos(t), cy + r * np.sin(t)]
            return ", ".join(f"{x!r} {y!r}"
                             for x, y in np.vstack([xy, xy[:1]]).tolist())

        def polygon(cx, cy, radius):
            # holes: stars of 0.1 · radius centred 0.3 · radius out in
            # different quadrants, inside the exterior and apart
            rings = [ring(cx, cy, radius, int(rng.integers(8, 24)),
                          bool(rng.integers(2)))]
            for k in range(int(rng.integers(0, 4))):
                a = (k + 0.5) * np.pi / 2
                rings.append(ring(cx + 0.3 * radius * np.cos(a),
                                  cy + 0.3 * radius * np.sin(a),
                                  0.1 * radius, int(rng.integers(3, 9)),
                                  bool(rng.integers(2))))
            return "(" + ", ".join(f"({r})" for r in rings) + ")"

        wkts = []
        for x0, y0, radius in [(50.0, 40.0, 30.0),
                               (733600.0, 3725100.0, 80.0)]:
            for _ in range(40):
                wkts.append("POLYGON " + polygon(x0, y0, radius))
            for _ in range(20):
                parts = [polygon(x0 + 3 * radius * k, y0, radius)
                         for k in range(int(rng.integers(2, 4)))]
                wkts.append("MULTIPOLYGON (" + ", ".join(parts) + ")")
        got = G.prepare_polygons(wkts).area
        want = np.array([O.polygon_area(w) for w in wkts])
        assert np.all(want > 0)
        np.testing.assert_allclose(got, want, rtol=1e-9, atol=0)


class TestRingArea:
    def test_ring_signed_area_is_half_the_batched_shoelace_sum(self):
        """The one ring-area sum: ring_signed_area of every ring equals
        half its _shoelace sum over the packed batch, bit for bit, for
        seeded rings of pixel-, 100- and UTM-sized coordinates, integer
        vertices, repeated vertices, doubled paths (zero exact area), 1 to
        30 vertices, open and closed, and a ring on the y axis whose every
        term is -0.0 (the batched sum starts from +0.0)."""
        rng = np.random.default_rng(21)
        rings = []
        for k in range(600):
            m = int(rng.integers(1, 31))
            scale = (1.0, 100.0, 1e6)[k % 3]
            ring = (rng.uniform(-50.0, 50.0, (m, 2))
                    + rng.uniform(-scale, scale, 2))
            if k % 4 == 0:
                ring = np.round(ring)
            if k % 5 == 0 and m > 1:
                ring[1] = ring[0]
            if k % 7 == 0:
                ring = np.vstack([ring, ring[-2::-1]])
            if k % 2 == 0:
                ring = np.vstack([ring, ring[:1]])
            rings.append(ring)
        rings.append(np.array([[0.0, 2.0], [0.0, 1.0], [-0.0, -1.0],
                               [-0.0, 2.0]]))
        xy, offsets, _ = O.pack([rings])
        n = np.diff(offsets)
        rid, start, nxt, _, _ = G._ring_walk(xy[:, 0], xy[:, 1], n)
        half = 0.5 * G._shoelace(xy[:, 0], xy[:, 1], rid, start[rid], nxt, n)
        got = np.array([G.ring_signed_area(r) for r in rings])
        assert got.tobytes() == half.tobytes()


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
                O.segments_intersect((e[0], e[1]), (e[2], e[3]),
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

    def test_rect_intersects_polygon_matches_scalar_loop(self):
        """rect_intersects_polygon's one batched edge test ≡ the per-edge-
        pair scalar loop, over seeded random pairs on an integer grid (so
        edge and corner touches are frequent) plus explicit touches."""
        import numpy as np
        rng = np.random.default_rng(11)
        cases = []
        for _ in range(600):
            pts = rng.integers(0, 9, (int(rng.integers(3, 7)), 2)).astype(float)
            x0, y0 = rng.integers(0, 8, 2).astype(float)
            w, h = rng.integers(0, 4, 2).astype(float)
            cases.append(((x0, y0, x0 + w, y0 + h),
                          [np.vstack([pts, pts[:1]])]))
        sq = np.array([[2., 2.], [5., 2.], [5., 5.], [2., 5.], [2., 2.]])
        band = np.array([[0., 3.], [9., 3.], [9., 4.], [0., 4.], [0., 3.]])
        cases += [
            ((5., 3., 7., 4.), [sq]),     # shares part of an edge
            ((5., 5., 6., 6.), [sq]),     # corner on corner
            ((0., 0., 2., 2.), [sq]),     # corner on corner, other side
            ((3., 5., 4., 6.), [sq]),     # rect edge on polygon edge
            ((1., 3., 2., 4.), [sq]),     # rect edge on polygon edge, outside
            ((5.5, 3., 6., 4.), [sq]),    # disjoint, bboxes apart
            ((3., 1., 4., 6.), [band]),   # edges cross, no vertex inside
        ]
        got = [G.rect_intersects_polygon(r, rings) for r, rings in cases]
        want = [O.rect_intersects_polygon(r, rings) for r, rings in cases]
        assert got == want
        assert got[-7:] == [True, True, True, True, True, False, True]
        assert 100 < sum(got) < len(got) - 100
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
            a = G.prepare_polygons([wl]).area[0]
            assert O.polygon_intersection_area(pg, pe) / a > 0.99999
            back = G.reproject_wkt(wl, 4326, 32616)
            _, pb = G.wkt_parse(back)
            _, pu = G.wkt_parse(wu)
            au = G.prepare_polygons([wu]).area[0]
            assert O.polygon_intersection_area(pb, pu) / au > 0.99999


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
        out = R.warp(field, src_t, 4326, dst_t, 3857, (oh, ow),
                     nodata=np.nan, resampling="bilinear")
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


class TestSimplifyDP:
    """Douglas–Peucker (polygonize's ``simplify_tol``) on hand-worked
    cases."""

    def test_open_line(self):
        # chord (0,0)-(4,0): (1,1) is 1 off -> kept; chord (1,1)-(4,0):
        # (2,0) is 2/sqrt(10) ~ 0.632 off -> kept; chord (2,0)-(4,0):
        # (3,0.05) is 0.05 off -> dropped
        line = np.array([[0, 0], [1, 1], [2, 0], [3, 0.05], [4, 0]])
        out = G.simplify_dp(line, 0.5)
        assert np.array_equal(out, [[0, 0], [1, 1], [2, 0], [4, 0]])

    def test_tolerance_boundary_drops(self):
        # (1,0.5) lies exactly tol off the chord: only d > tol is kept
        line = np.array([[0, 0], [1, 0.5], [2, 0]])
        assert np.array_equal(G.simplify_dp(line, 0.5), [[0, 0], [2, 0]])
        assert np.array_equal(G.simplify_dp(line, 0.25), line)

    def test_closed_ring(self):
        # the start vertex splits at the farthest vertex (10,10); the
        # (5,0.01) bump on the bottom edge goes
        ring = np.array([[0, 0], [5, 0.01], [10, 0], [10, 10], [0, 10],
                         [0, 0]])
        out = G.simplify_dp(ring, 0.1)
        assert np.array_equal(out, [[0, 0], [10, 0], [10, 10], [0, 10],
                                    [0, 0]])

    def test_closed_ring_below_four_vertices_is_returned_as_is(self):
        # a 10 x 0.1 sliver simplifies to (0,0),(10,0.1),(0,0)
        ring = np.array([[0, 0], [10, 0], [10, 0.1], [0, 0.1], [0, 0]])
        assert G.simplify_dp(ring, 1.0) is ring
