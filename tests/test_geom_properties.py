"""Property-based invariants for the geometry kernels (hypothesis).

Complements the golden-pinned parity tests: whatever the polygon, IoU must
be symmetric, bounded, 1 on self; intersection area can't exceed either
operand or the clip rect; affine round trips are exact to float.
Polygons are convex hulls of random point clouds (always simple/valid)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from solaris_spark.functions import geom as G
from tests import oracles as O


def _hull(pts: np.ndarray) -> np.ndarray:
    """Andrew monotone chain convex hull, closed ring CCW."""
    pts = pts[np.lexsort((pts[:, 1], pts[:, 0]))]
    def half(seq):
        out = []
        for p in seq:
            while len(out) >= 2 and np.cross(out[-1] - out[-2],
                                             p - out[-2]) <= 0:
                out.pop()
            out.append(p)
        return out
    lower = half(pts)
    upper = half(pts[::-1])
    ring = np.array(lower[:-1] + upper[:-1], dtype=np.float64)
    return np.vstack([ring, ring[:1]])


@st.composite
def polygons(draw, max_coord=100.0):
    n = draw(st.integers(min_value=3, max_value=12))
    seed = draw(st.integers(min_value=0, max_value=10_000))
    rng = np.random.default_rng(seed)
    pts = rng.uniform(0, max_coord, size=(n, 2))
    # degenerate clouds (collinear) give sub-3-vertex hulls — resample
    h = _hull(np.unique(pts, axis=0))
    if len(h) < 4:
        pts = rng.uniform(0, max_coord, size=(12, 2))
        h = _hull(pts)
    return G.wkt_dump("POLYGON", [h])


@settings(max_examples=150, deadline=None)
@given(polygons(), polygons())
def test_iou_bounded_symmetric_self(wa, wb):
    iou_ab = O.iou_wkt(wa, wb)
    iou_ba = O.iou_wkt(wb, wa)
    assert 0.0 <= iou_ab <= 1.0 + 1e-12
    assert abs(iou_ab - iou_ba) < 1e-9
    assert abs(O.iou_wkt(wa, wa) - 1.0) < 1e-9
    ra, rb = G.polygon_rings(wa), G.polygon_rings(wb)
    inter = O.polygon_intersection_area(ra, rb)
    assert inter <= G.prepare_polygons([wa]).area[0] + 1e-6
    assert inter <= G.prepare_polygons([wb]).area[0] + 1e-6
    # the batched kernel in one shared frame: the same bounds, symmetry
    # and self-IoU, its clamp holding inter to the smaller area exactly
    a, b = G.polygon_sets([wa, wb], [wa, wb])
    i, j, inter, iou = G.overlaps(a, b)
    m = np.zeros((2, 2))
    m[i, j] = iou
    assert np.all(iou >= 0.0) and np.all(iou <= 1.0)
    assert np.all(inter <= np.minimum(a.area[i], b.area[j]))
    assert abs(m[0, 1] - m[1, 0]) < 1e-9 and abs(m[0, 1] - iou_ab) < 1e-9
    assert np.all(np.abs(np.diag(m) - 1.0) < 1e-9)


@settings(max_examples=100, deadline=None)
@given(polygons())
def test_clip_and_affine_invariants(w):
    rings = G.polygon_rings(w)
    rect = (20.0, 20.0, 70.0, 60.0)
    ca = O.clip_polygon_rect_area(rings, rect)
    assert -1e-9 <= ca <= G.prepare_polygons([w]).area[0] + 1e-6
    assert ca <= (70 - 20) * (60 - 20) + 1e-6
    t = (0.5, 0.0, 733601.0, 0.0, -0.5, 3725139.0)
    back = G.transform_wkt(G.transform_wkt(w, t), G.affine_invert(t))
    a = np.vstack(G.polygon_rings(w))
    b = np.vstack(G.polygon_rings(back))
    assert np.allclose(a, b, atol=1e-6)
    assert abs(G.prepare_polygons([w]).area[0]
               - abs(G.ring_signed_area(rings[0]))) < 1e-9


def _star(rng, n: int) -> np.ndarray:
    """Random star-shaped ring (simple, usually non-convex): n >= 4 vertices
    at jittered, sorted angles around (50, 50), angular gaps below pi."""
    ang = (np.arange(n) + rng.uniform(0, 0.9, n)) * (2 * np.pi / n)
    rad = rng.uniform(5, 45, n)
    ring = np.c_[50 + rad * np.cos(ang), 50 + rad * np.sin(ang)]
    return np.vstack([ring, ring[:1]])


@pytest.mark.parametrize("offset", [0.0, 7e5, 3.7e6])
def test_tri_intersection_matches_rect_clip(offset):
    """The production intersection kernel (polygon_sets' shared frame +
    tri_intersection_area) against an independent algorithm, the
    Sutherland–Hodgman rect clip, on simple polygons x rectangles at
    georeferenced offsets."""
    rng = np.random.default_rng(7)
    for k in range(200):
        n = int(rng.integers(4, 16))
        ring = (_star(rng, n) if k % 2
                else _hull(rng.uniform(0, 100, (max(n, 6), 2)))) + offset
        lo = rng.uniform(-20, 100, 2)
        rect = (*(lo + offset), *(lo + rng.uniform(1, 80, 2) + offset))
        box = np.array([(rect[0], rect[1]), (rect[2], rect[1]),
                        (rect[2], rect[3]), (rect[0], rect[3]),
                        (rect[0], rect[1])])
        wp = G.wkt_dump("POLYGON", [ring])
        p, r = G.polygon_sets([wp], [G.wkt_dump("POLYGON", [box])])
        tri = G.tri_intersection_area(p.tris[0], r.tris[0])
        ref = O.clip_polygon_rect_area(G.polygon_rings(wp), rect)
        assert abs(tri - ref) <= 1e-9 * max(ref, 1.0), (k, tri, ref)
