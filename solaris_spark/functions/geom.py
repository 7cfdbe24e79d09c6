"""Pure-NumPy geometry kernels for the Spark engine.

These re-implement the geometry semantics the reference delegates to
shapely/GEOS, as vectorizable NumPy functions usable inside Arrow
UDFs (no shapely in this sandbox).  Reference parity targets:

- WKT parse/dump           → solaris/utils/core.py:74-85
- affine transform         → solaris/vector/polygon.py:17-89
- shoelace area / length   → gdf.area/.length uses (e.g. tile/vector_tile.py:291,297)
- rect clip (clip_gdf)     → solaris/tile/vector_tile.py:227-324
- polygon∩polygon area     → solaris/eval/iou.py:33-38 (IoU numerator)
- grid generation          → solaris/utils/geo.py:743-837 (split_geom)
- Douglas-Peucker simplify → solaris/vector/mask.py:804-807
- UTM↔WGS84 reprojection   → solaris/utils/geo.py:24-182 (only CRS pair the
                              fixtures exercise; tests tolerate 1e-5 rel. area)
"""

from __future__ import annotations

import math
import re
from typing import NamedTuple

import numpy as np

# ---------------------------------------------------------------------------
# WKT
# ---------------------------------------------------------------------------

def _parse_ring(txt: str) -> np.ndarray:
    pts = []
    for pair in txt.split(","):
        parts = pair.split()
        pts.append((float(parts[0]), float(parts[1])))
    return np.asarray(pts, dtype=np.float64)


def _split_parens(body: str, depth_open: int) -> list[str]:
    """Split a WKT body into top-level paren groups at the given depth."""
    groups, depth, start = [], 0, None
    for i, ch in enumerate(body):
        if ch == "(":
            depth += 1
            if depth == depth_open:
                start = i + 1
        elif ch == ")":
            if depth == depth_open:
                groups.append(body[start:i])
            depth -= 1
    return groups


def wkt_parse(wkt: str):
    """Parse WKT → (geom_type, parts).

    parts layout:
      POINT           → [array (1,2)]
      LINESTRING      → [array (n,2)]
      POLYGON         → [ring0, ring1, ...]            (exterior first)
      MULTIPOLYGON    → [[rings...], [rings...], ...]
      MULTILINESTRING → [array, array, ...]
    Empty geometries → (type, []).
    """
    wkt = wkt.strip()
    m = re.match(r"([A-Za-z]+)\s*(.*)", wkt, re.S)
    if m is None:
        raise ValueError(f"not WKT: {wkt[:40]!r}")
    gtype = m.group(1).upper()
    body = m.group(2).strip()
    if body.upper() == "EMPTY" or body == "":
        return gtype, []
    if gtype == "POINT":
        return gtype, [_parse_ring(body.strip("() "))]
    if gtype == "LINESTRING":
        return gtype, [_parse_ring(body.strip("() "))]
    if gtype == "POLYGON":
        return gtype, [_parse_ring(g) for g in _split_parens(body, 2)]
    if gtype == "MULTILINESTRING":
        return gtype, [_parse_ring(g) for g in _split_parens(body, 2)]
    if gtype == "MULTIPOLYGON":
        polys = []
        for poly_body in _split_parens(body, 2):
            polys.append([_parse_ring(g) for g in _split_parens("(" + poly_body + ")", 2)])
        return gtype, polys
    raise ValueError(f"unsupported WKT type: {gtype}")


def _fmt_coord(v: float) -> str:
    # shapely.wkt.dumps-style default full precision; trim trailing zeros like repr
    return repr(float(v))


def _dump_ring(ring: np.ndarray) -> str:
    return "(" + ", ".join(f"{_fmt_coord(x)} {_fmt_coord(y)}" for x, y in ring) + ")"


def wkt_dump(gtype: str, parts) -> str:
    gtype = gtype.upper()
    if not parts:
        return f"{gtype} EMPTY"
    if gtype == "POINT":
        x, y = parts[0][0]
        return f"POINT ({_fmt_coord(x)} {_fmt_coord(y)})"
    if gtype == "LINESTRING":
        return "LINESTRING " + _dump_ring(parts[0])
    if gtype == "POLYGON":
        return "POLYGON (" + ", ".join(_dump_ring(r) for r in parts) + ")"
    if gtype == "MULTILINESTRING":
        return "MULTILINESTRING (" + ", ".join(_dump_ring(r) for r in parts) + ")"
    if gtype == "MULTIPOLYGON":
        return "MULTIPOLYGON (" + ", ".join(
            "(" + ", ".join(_dump_ring(r) for r in poly) + ")" for poly in parts
        ) + ")"
    raise ValueError(gtype)


def polygon_rings(wkt: str) -> list[np.ndarray]:
    """All rings of a POLYGON/MULTIPOLYGON as a flat list with orientation
    NORMALIZED: exterior rings CCW (signed area > 0), hole rings CW — the
    one-WKT call of pack_polygons, rings as views into one array.

    GEOS/shapely area and overlay are ring-orientation-insensitive; the
    signed fan-triangle decomposition (fan_decompose) and the
    |Σ signed ring area| shortcut are not — a hole wound like its exterior
    would double-count instead of subtracting. Normalizing here makes every
    downstream consumer (IoU kernels, rasterizer winding, area sums) agree
    with GEOS regardless of input winding."""
    return ring_groups(*pack_polygons([wkt]), 1)[0]


# the fast grammar of pack_polygons: a POLYGON or MULTIPOLYGON whose every
# vertex is exactly two tokens; float() judges each token, as it does in
# wkt_parse
_TOKEN = r"[^\s,()]+"
_VERTEX = rf"{_TOKEN}\s+{_TOKEN}"
_RING = rf"\(\s*{_VERTEX}(?:\s*,\s*{_VERTEX})*\s*\)"
_POLY = rf"\(\s*{_RING}(?:\s*,\s*{_RING})*\s*\)"
_POLYGONAL = re.compile(
    rf"\s*(?:(?ai:POLYGON)\s*{_POLY}"
    rf"|(?ai:MULTIPOLYGON)\s*\(\s*{_POLY}(?:\s*,\s*{_POLY})*\s*\))\s*")
# a ring's text, opened by "(" for a polygon's first ring, "," for a hole
_RING_TEXT = re.compile(r"([(,])\s*\(([^()]*)\)")


def pack_polygons(wkts: list[str]) -> tuple[np.ndarray, np.ndarray,
                                              np.ndarray]:
    """Every ring of many POLYGON/MULTIPOLYGON WKTs, packed: returns
    ``(xy, offsets, groups)`` where ring k is ``xy[offsets[k]:offsets[k +
    1]]`` and comes from ``wkts[groups[k]]``, rings in WKT order, an
    exterior ring counter-clockwise and a hole clockwise.  None, ``""``
    and an EMPTY geometry have no rings.

    A WKT in the fast grammar (``_POLYGONAL``) costs two regex calls; the
    coordinates of all of them come from one split of their joined ring
    texts, each value ``float(token)`` as in wkt_parse.  Any other WKT
    (other types, Z coordinates, odd text) goes through wkt_parse.  Every
    ring is then oriented in one _orient_src pass over the batch, and any
    error is the one a loop of polygon_rings raises first."""
    try:
        return _pack_polygons(wkts)
    except Exception:
        # re-raised, not handled: one WKT at a time again, so the first
        # bad WKT raises its own error even when a later one failed first
        # in the batch
        for w in wkts:
            _pack_polygons([w])
        raise


def _pack_polygons(wkts):
    texts, outer, groups = [], [], []
    slow, slow_outer, slow_groups = [], [], []
    for i, w in enumerate(wkts):
        if w is None or w == "":
            continue
        if isinstance(w, str) and _POLYGONAL.fullmatch(w):
            for opener, ring in _RING_TEXT.findall(w):
                texts.append(ring)
                outer.append(opener == "(")
                groups.append(i)
            continue
        gtype, parts = wkt_parse(w)
        if parts and gtype not in ("POLYGON", "MULTIPOLYGON"):
            raise ValueError(f"expected polygonal WKT, got {gtype}")
        for rings in parts if gtype == "MULTIPOLYGON" else [parts]:
            slow.extend(rings)
            slow_outer.extend(k == 0 for k in range(len(rings)))
            slow_groups.extend([i] * len(rings))
    tokens = " ".join(texts).replace(",", " ").split()
    xy = np.fromiter(map(float, tokens), dtype=np.float64,
                     count=len(tokens)).reshape(-1, 2)
    n = np.fromiter(map(str.count, texts, [","] * len(texts)),
                    dtype=np.int64, count=len(texts)) + 1
    outer = np.array(outer + slow_outer, dtype=bool)
    groups = np.array(groups + slow_groups, dtype=np.int64)
    if slow:
        # merge wkt_parse's rings in by WKT index, rings kept in order
        n_slow = np.fromiter(map(len, slow), dtype=np.int64, count=len(slow))
        xy = np.concatenate([xy, *slow])
        n = np.concatenate([n, n_slow])
        order = np.argsort(groups, kind="stable")
        start = np.cumsum(n) - n
        n, groups, outer = n[order], groups[order], outer[order]
        xy = xy[np.repeat(start[order] - (np.cumsum(n) - n), n)
                + np.arange(len(xy))]
    xy = xy[_orient_src(xy, n, outer)]
    return xy, np.concatenate(([0], np.cumsum(n))), groups


def _orient_src(xy: np.ndarray, n: np.ndarray,
                outer: np.ndarray) -> np.ndarray:
    """Gather index that orients rings stored back to back (``n[k]``
    vertices each) by the sign of their _shoelace sums: an ``outer`` ring
    counter-clockwise, a hole clockwise, a ring of signed area 0 as it
    is."""
    rid, start, nxt, _, _ = _ring_walk(xy[:, 0], xy[:, 1], n)
    first = start[rid]
    area2 = _shoelace(xy[:, 0], xy[:, 1], rid, first, nxt, n)
    flip = (area2 != 0.0) & ((area2 > 0.0) != outer)
    src = np.arange(len(xy))
    if flip.any():
        back = np.repeat(flip, n)
        src[back] = (2 * first + np.repeat(n, n) - 1 - src)[back]
    return src


# ---------------------------------------------------------------------------
# Areas / lengths / bounds
# ---------------------------------------------------------------------------

def ring_signed_area(ring: np.ndarray) -> float:
    """Signed area of one ring, positive counter-clockwise: half its
    _shoelace sum, the same terms ``x[i]·y[i+1] − y[i]·x[i+1]`` about
    vertex 0 added in vertex order, so every host and the batched kernels
    get the same bits.
    Centered first: raw geo coords (~1e6) lose ~10 digits to
    cancellation."""
    x = ring[:, 0] - ring[0, 0]
    y = ring[:, 1] - ring[0, 1]
    # term i pairs vertex i with the next one, the last with vertex 0
    t = np.empty_like(x)
    np.multiply(x[:-1], y[1:], out=t[:-1])
    t[:-1] -= y[:-1] * x[1:]
    t[-1] = x[-1] * y[0] - y[-1] * x[0]
    # cumsum adds in order; + 0.0 as _shoelace's bincount starts from 0.0
    return 0.5 * (float(t.cumsum()[-1]) + 0.0)


def geom_bounds(wkt: str) -> tuple[float, float, float, float]:
    """(xmin, ymin, xmax, ymax) of every vertex; NaN for ``""`` and an
    EMPTY geometry, which have none (as in pack_polygons)."""
    gtype, parts = wkt_parse(wkt) if wkt != "" else (None, [])
    if not parts:
        return (math.nan,) * 4
    if gtype == "MULTIPOLYGON":
        arrs = [r for poly in parts for r in poly]
    else:
        arrs = parts
    allc = np.vstack(arrs)
    return (float(allc[:, 0].min()), float(allc[:, 1].min()),
            float(allc[:, 0].max()), float(allc[:, 1].max()))


# ---------------------------------------------------------------------------
# Affine (solaris/vector/polygon.py:17-89 convert_poly_coords)
# ---------------------------------------------------------------------------

def affine_apply(coords: np.ndarray, t) -> np.ndarray:
    """Apply affine (a,b,c,d,e,f): x' = a*x + b*y + c ; y' = d*x + e*y + f."""
    a, b, c, d, e, f = t
    x, y = coords[:, 0], coords[:, 1]
    return np.stack([a * x + b * y + c, d * x + e * y + f], axis=1)


def affine_invert(t):
    a, b, c, d, e, f = t
    det = a * e - b * d
    ia, ib, id_, ie = e / det, -b / det, -d / det, a / det
    return (ia, ib, -(ia * c + ib * f), id_, ie, -(id_ * c + ie * f))


def gdal_to_affine(g):
    """GDAL order (c, a, b, f, d, e) → (a, b, c, d, e, f) — per
    solaris/utils/geo.py:392-418 (list_to_affine)."""
    g = list(g)
    if len(g) > 6:
        g = g[:6]
    # rasterio.transform.tastes_like_gdal: gdal order iff rotation slots
    # (positions 2 and 4 of a GDAL geotransform) are both exactly 0.0
    if g[2] == 0.0 and g[4] == 0.0:
        return (g[1], g[2], g[0], g[4], g[5], g[3])
    return tuple(g)


def transform_wkt(wkt: str, t, inverse: bool = False) -> str:
    """convert_poly_coords equivalent: affine-transform every coordinate.
    ``""`` and an EMPTY geometry come back as they are."""
    if inverse:
        t = affine_invert(t)
    gtype, parts = wkt_parse(wkt) if wkt != "" else (None, [])
    if not parts:
        return wkt
    if gtype == "MULTIPOLYGON":
        new = [[affine_apply(r, t) for r in poly] for poly in parts]
    else:
        new = [affine_apply(r, t) for r in parts]
    return wkt_dump(gtype, new)


# ---------------------------------------------------------------------------
# Point in polygon (even-odd, half-open edge rule — consistent with GDAL
# scanline rasterization so masks and predicates agree)
# ---------------------------------------------------------------------------

def points_in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd crossing parity of points vs one ring. Vectorized (P,) bool."""
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    inside = np.zeros(px.shape, dtype=bool)
    for ex1, ey1, ex2, ey2 in zip(x1, y1, x2, y2):
        if ey1 == ey2:
            continue
        lo, hi = (ey1, ey2) if ey1 < ey2 else (ey2, ey1)
        cond = (py >= lo) & (py < hi)
        if not cond.any():
            continue
        xint = ex1 + (py - ey1) * (ex2 - ex1) / (ey2 - ey1)
        inside ^= cond & (xint <= px)
    return inside


def points_in_polygon(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    inside = np.zeros(np.shape(px), dtype=bool)
    for r in rings:
        inside ^= points_in_ring(px, py, r)
    return inside


# ---------------------------------------------------------------------------
# Segment intersection / rect-polygon intersects (grid AOI filter,
# split_geom's `not geometry.intersection(box).is_empty` — touching counts)
# ---------------------------------------------------------------------------

def polygon_edges(rings: list[np.ndarray]) -> np.ndarray:
    """All ring edges as one (n, 4) array [x1, y1, x2, y2] — input to the
    batched segment-intersection kernel."""
    if not rings:
        return np.empty((0, 4))
    return np.vstack([np.hstack([r[:-1], r[1:]]) for r in rings])


def any_segments_intersect(ea: np.ndarray, eb: np.ndarray) -> bool:
    """True iff ANY edge of `ea` intersects ANY edge of `eb` (closed-set
    semantics incl. endpoint/collinear touch): orientation signs of each
    edge's endpoints against the other edge, with a collinear endpoint
    counting when it lies on the other edge's closed bounding box.  The
    engine's one segment predicate, evaluated for all edge pairs at once
    (class-eval candidates, rect_intersects_polygon)."""
    if not len(ea) or not len(eb):
        return False
    a1 = ea[:, None, 0:2]
    a2 = ea[:, None, 2:4]
    b1 = eb[None, :, 0:2]
    b2 = eb[None, :, 2:4]

    def orient(p, q, r):
        return ((q[..., 0] - p[..., 0]) * (r[..., 1] - p[..., 1])
                - (q[..., 1] - p[..., 1]) * (r[..., 0] - p[..., 0]))

    d1 = orient(b1, b2, a1)
    d2 = orient(b1, b2, a2)
    d3 = orient(a1, a2, b1)
    d4 = orient(a1, a2, b2)
    proper = (((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))
              & (d1 != 0) & (d2 != 0) & (d3 != 0) & (d4 != 0))
    if proper.any():
        return True

    def on_seg(p, q, r):
        return ((np.minimum(p[..., 0], q[..., 0]) <= r[..., 0])
                & (r[..., 0] <= np.maximum(p[..., 0], q[..., 0]))
                & (np.minimum(p[..., 1], q[..., 1]) <= r[..., 1])
                & (r[..., 1] <= np.maximum(p[..., 1], q[..., 1])))

    touch = (((d1 == 0) & on_seg(b1, b2, a1))
             | ((d2 == 0) & on_seg(b1, b2, a2))
             | ((d3 == 0) & on_seg(a1, a2, b1))
             | ((d4 == 0) & on_seg(a1, a2, b2)))
    return bool(touch.any())


def rect_intersects_polygon(rect, rings: list[np.ndarray]) -> bool:
    """True iff closed rect [xmin,ymin,xmax,ymax] touches/overlaps the polygon."""
    xmin, ymin, xmax, ymax = rect
    if not rings:
        return False
    allc = np.vstack(rings)
    if allc[:, 0].max() < xmin or allc[:, 0].min() > xmax:
        return False
    if allc[:, 1].max() < ymin or allc[:, 1].min() > ymax:
        return False
    # any polygon vertex inside the closed rect
    inside_rect = ((allc[:, 0] >= xmin) & (allc[:, 0] <= xmax)
                   & (allc[:, 1] >= ymin) & (allc[:, 1] <= ymax))
    if inside_rect.any():
        return True
    # any rect corner inside the polygon
    cx = np.array([xmin, xmax, xmax, xmin])
    cy = np.array([ymin, ymin, ymax, ymax])
    if points_in_polygon(cx, cy, rings).any():
        return True
    # edge-edge intersection
    rect_edges = np.array([[xmin, ymin, xmax, ymin], [xmax, ymin, xmax, ymax],
                           [xmax, ymax, xmin, ymax], [xmin, ymax, xmin, ymin]],
                          dtype=np.float64)
    return any_segments_intersect(polygon_edges(rings), rect_edges)


# ---------------------------------------------------------------------------
# Sutherland–Hodgman clip of a polygon by an axis-aligned rect
# (clip_gdf's gdf.intersection(box), solaris/tile/vector_tile.py:304)
# ---------------------------------------------------------------------------

def clip_ring_rect(ring: np.ndarray, rect) -> np.ndarray:
    """Clip one ring to the rect. Returns (n,2) closed ring or empty array.

    Sutherland–Hodgman: exact areas for any simple subject polygon (possible
    zero-width bridges for non-convex subjects don't change area — the parity
    the reference's area-overlap test checks)."""
    xmin, ymin, xmax, ymax = rect
    pts = ring[:-1] if len(ring) > 1 and np.array_equal(ring[0], ring[-1]) else ring
    pts = [tuple(p) for p in pts]

    def clip_edge(points, inside, intersect):
        out = []
        n = len(points)
        for i in range(n):
            cur, prev = points[i], points[i - 1]
            cin, pin = inside(cur), inside(prev)
            if cin:
                if not pin:
                    out.append(intersect(prev, cur))
                out.append(cur)
            elif pin:
                out.append(intersect(prev, cur))
        return out

    for edge in range(4):
        if not pts:
            return np.empty((0, 2))
        if edge == 0:
            inside = lambda p: p[0] >= xmin
            inter = lambda p, c: (xmin, p[1] + (c[1] - p[1]) * (xmin - p[0]) / (c[0] - p[0]))
        elif edge == 1:
            inside = lambda p: p[0] <= xmax
            inter = lambda p, c: (xmax, p[1] + (c[1] - p[1]) * (xmax - p[0]) / (c[0] - p[0]))
        elif edge == 2:
            inside = lambda p: p[1] >= ymin
            inter = lambda p, c: (p[0] + (c[0] - p[0]) * (ymin - p[1]) / (c[1] - p[1]), ymin)
        else:
            inside = lambda p: p[1] <= ymax
            inter = lambda p, c: (p[0] + (c[0] - p[0]) * (ymax - p[1]) / (c[1] - p[1]), ymax)
        pts = clip_edge(pts, inside, inter)

    if len(pts) < 3:
        return np.empty((0, 2))
    arr = np.asarray(pts + [pts[0]], dtype=np.float64)
    return arr


def clip_polygon_rect(rings: list[np.ndarray], rect,
                      signed_areas) -> tuple[list[np.ndarray], float]:
    """polygon ∩ rect from ONE Sutherland–Hodgman pass per ring: the kept
    clipped rings (≥ 4 vertices, input order) and the clip area, each
    clipped ring's |area| taking the sign of its source ring so holes
    subtract.  `signed_areas` are the rings' ring_signed_area values —
    callers clipping one polygon against many rects pass them cached."""
    kept, total = [], 0.0
    for r, s in zip(rings, signed_areas):
        c = clip_ring_rect(r, rect)
        if len(c):
            total += abs(ring_signed_area(c)) * (1.0 if s >= 0 else -1.0)
            if len(c) >= 4:
                kept.append(c)
    return kept, abs(total)


# ---------------------------------------------------------------------------
# Polygon ∩ polygon area — signed fan-triangle decomposition.
# area(A∩B) = Σ_i Σ_j s_i s_j area(T_i ∩ T_j) with T = fan triangles
# (O, v_k, v_{k+1}); exact for simple polygons incl. holes.  Used for IoU
# (solaris/eval/iou.py:33-38: iou = inter / (a1 + a2 − inter)).
# ---------------------------------------------------------------------------

# triangle pairs per Sutherland–Hodgman pass: a row peaks near 1 KB of
# temporaries (67 MB traced over 2^16-row passes), so a pass stays near
# 64 MB however large the group (a larger pair goes alone)
_CLIP_ROWS = 1 << 16


def fan_decompose(rings: list[np.ndarray], origin
                  ) -> tuple[np.ndarray, np.ndarray]:
    """Precompute the signed fan-triangle decomposition of a polygon in a
    caller-chosen local frame — reuse across many intersection-area calls
    (the greedy/SCOT joins evaluate each polygon against many partners).
    Returns the triangles (origin, v_k, v_k+1) of non-zero area, ring by
    ring, as arrays: vertices V (T, 3, 2) with V[:, 0] the origin, and
    signs S (T,) of ±1.  Every triangle holds the origin, so no two
    triangles' bboxes are disjoint and every pair is clipped."""
    shift = np.asarray(origin, dtype=np.float64)
    p = np.concatenate([np.empty((0, 2))] + [r[:-1] - shift for r in rings])
    q = np.concatenate([np.empty((0, 2))] + [r[1:] - shift for r in rings])
    a2 = p[:, 0] * q[:, 1] - p[:, 1] * q[:, 0]
    keep = a2 != 0.0
    p, q = p[keep], q[keep]
    V = np.zeros((len(p), 3, 2))
    V[:, 1], V[:, 2] = p, q
    return V, np.where(a2[keep] > 0, 1.0, -1.0)


def tri_intersection_area(tris_a: tuple, tris_b: tuple) -> float:
    """area(A∩B) from two fan_decompose results sharing the SAME origin —
    the one-pair call of intersection_areas."""
    return float(intersection_areas([tris_a], [tris_b])[0])


def intersection_areas(tris_a: list, tris_b: list) -> np.ndarray:
    """area(A_k ∩ B_k) for every pair k of fan_decompose results sharing
    one origin — the engine's one polygon intersection-area algorithm.
    Every triangle pair of every polygon pair, A-major, is clipped in
    passes of at most _CLIP_ROWS rows cut at pair boundaries; each pair
    sums its own slice of signed areas, so its bits do not depend on its
    partners."""
    na = np.array([len(t[1]) for t in tris_a], dtype=np.int64)
    nb = np.array([len(t[1]) for t in tris_b], dtype=np.int64)
    n = na * nb
    stop = np.cumsum(n)
    start = stop - n
    VA = np.concatenate([np.empty((0, 3, 2))] + [t[0] for t in tris_a])
    VB = np.concatenate([np.empty((0, 3, 2))] + [t[0] for t in tris_b])
    SA = np.concatenate([np.empty(0)] + [t[1] for t in tris_a])
    SB = np.concatenate([np.empty(0)] + [t[1] for t in tris_b])
    out = np.zeros(len(n))
    k0 = 0
    while k0 < len(n):
        k1 = max(int(np.searchsorted(stop, start[k0] + _CLIP_ROWS, "right")),
                 k0 + 1)
        pair = np.repeat(np.arange(k0, k1), n[k0:k1])
        local = np.arange(start[k0], stop[k1 - 1]) - start[pair]
        ai = (np.cumsum(na) - na)[pair] + local // nb[pair]
        bi = (np.cumsum(nb) - nb)[pair] + local % nb[pair]
        signed = SA[ai] * SB[bi] * _clip_areas(VA[ai], VB[bi])
        for k in range(k0, k1):
            s = start[k] - start[k0]
            out[k] = abs(signed[s:s + n[k]].sum())
        k0 = k1
    return out


def _clip_areas(a: np.ndarray, P: np.ndarray) -> np.ndarray:
    """area(a_k ∩ P_k) of K triangle pairs (K, 3, 2): each subject
    triangle P_k Sutherland–Hodgman-clipped by the half-planes of a_k
    (reoriented counter-clockwise in place)."""
    cw = ((a[:, 1, 0] - a[:, 0, 0]) * (a[:, 2, 1] - a[:, 0, 1])
          - (a[:, 1, 1] - a[:, 0, 1]) * (a[:, 2, 0] - a[:, 0, 0])) < 0
    a[cw] = a[cw, ::-1]
    K = len(a)
    M = 3
    cnt = np.full(K, 3, dtype=np.int64)
    for e in range(3):
        p1 = a[:, e]
        p2 = a[:, (e + 1) % 3]
        nx = (p1[:, 1] - p2[:, 1])[:, None]
        ny = (p2[:, 0] - p1[:, 0])[:, None]
        d = nx * (P[:, :, 0] - p1[:, 0:1]) + ny * (P[:, :, 1] - p1[:, 1:2])
        idx = np.arange(M)
        valid = idx[None, :] < cnt[:, None]
        prev_idx = (idx[None, :] - 1) % np.maximum(cnt[:, None], 1)
        dp = np.take_along_axis(d, prev_idx, 1)
        Pprev = np.take_along_axis(P, prev_idx[:, :, None], 1)
        denom = np.where(dp - d == 0.0, 1.0, dp - d)
        t = (dp / denom)[:, :, None]
        # slot 2k = the intersection (emitted on a sign change), 2k+1 = cur
        pts = np.stack([Pprev + t * (P - Pprev), P],
                       axis=2).reshape(K, 2 * M, 2)
        emit = np.stack([valid & ((d >= 0) != (dp >= 0)), valid & (d >= 0)],
                        axis=2).reshape(K, 2 * M)
        cnt = emit.sum(axis=1)
        M = min(int(cnt.max(initial=0)), 2 * M)
        if M < 3:
            return np.zeros(K)
        # stable compaction: each row's emitted slots first, in order
        order = np.argsort(~emit, axis=1, kind="stable")[:, :M]
        P = np.take_along_axis(pts, order[:, :, None], 1)
    # fan areas from vertex 0 over each row's valid vertices; a row holds
    # at most 6, so a row sum never reaches NumPy's pairwise block of 8
    # and padding adds exact zeros
    v0 = P[:, 0:1, :]
    e1 = P[:, 1:M - 1, :] - v0
    e2 = P[:, 2:M, :] - v0
    cross = e1[:, :, 0] * e2[:, :, 1] - e1[:, :, 1] * e2[:, :, 0]
    mask = np.arange(M - 2)[None, :] < (cnt - 2)[:, None]
    return np.abs(0.5 * np.where(mask, cross, 0.0).sum(axis=1))


# ---------------------------------------------------------------------------
# Prepared polygons: one pack_polygons parse per batch, then per polygon
# its rings, signed ring areas, area and bbox.  Every matching join adds
# fan triangles once per polygon (polygon_sets), then scores all of a
# pass's bbox-touching (A, B) pairs in one overlaps call: one
# intersection_areas pass and the one IoU rule (solaris/eval/iou.py:33-38).
# ---------------------------------------------------------------------------

def ring_groups(xy: np.ndarray, offsets: np.ndarray, groups: np.ndarray,
                n: int) -> list[list[np.ndarray]]:
    """Per group 0..n-1 of packed rings (pack_polygons' layout), its rings
    as views into ``xy``."""
    out = [[] for _ in range(n)]
    for k, g in enumerate(groups.tolist()):
        out[g].append(xy[offsets[k]:offsets[k + 1]])
    return out


class PolygonSet(NamedTuple):
    rings: list        # per polygon: polygon_rings, views into one array
    signed: list       # per polygon: each ring's signed area
    area: np.ndarray   # (n,) unsigned areas |Σ signed|
    bbox: np.ndarray   # (n, 4) closed [xmin, ymin, xmax, ymax]
    tris: list | None = None   # polygon_sets' fan_decompose per polygon


def prepare_polygons(wkts: list[str]) -> PolygonSet:
    """Polygons of many WKTs from one pack_polygons call, errors as it
    raises them.  Every ring's signed area comes from one _shoelace pass
    over the batch (ring_signed_area's bits), every polygon's area
    |Σ signed| from one bincount over the groups.  A None, ``""`` or EMPTY
    WKT has no rings, area 0 and an inverted bbox that overlaps nothing."""
    xy, offsets, groups = pack_polygons(wkts)
    n = len(wkts)
    nv = np.diff(offsets)
    rid, start, nxt, _, _ = _ring_walk(xy[:, 0], xy[:, 1], nv)
    ring_area = 0.5 * _shoelace(xy[:, 0], xy[:, 1], rid, start[rid], nxt, nv)
    signed = [[] for _ in range(n)]
    for g, a in zip(groups.tolist(), ring_area.tolist()):
        signed[g].append(a)
    bbox = np.tile([np.inf, np.inf, -np.inf, -np.inf], (n, 1))
    if len(groups):
        # a polygon's rings are contiguous in xy, in WKT order
        has, first = np.unique(groups, return_index=True)
        bbox[has, :2] = np.minimum.reduceat(xy, offsets[first], axis=0)
        bbox[has, 2:] = np.maximum.reduceat(xy, offsets[first], axis=0)
    return PolygonSet(ring_groups(xy, offsets, groups, n), signed,
                      np.abs(np.bincount(groups, weights=ring_area,
                                         minlength=n)),
                      bbox)


def polygon_sets(*wkt_lists) -> list[PolygonSet]:
    """One PolygonSet per WKT list, all in ONE local frame (origin = mean of
    every vertex) so fan triangles are decomposed once per polygon and
    reused across every partner.  A None / empty / EMPTY WKT has no rings,
    area 0 and an inverted bbox that overlaps nothing."""
    polys = [prepare_polygons(wl) for wl in wkt_lists]
    allr = [r for p in polys for rr in p.rings for r in rr]
    if allr:
        allc = np.vstack(allr)
        origin = (float(allc[:, 0].mean()), float(allc[:, 1].mean()))
    else:
        origin = (0.0, 0.0)
    return [p._replace(tris=[fan_decompose(rr, origin) for rr in p.rings])
            for p in polys]


def overlaps(a: PolygonSet, b: PolygonSet) -> tuple[np.ndarray, np.ndarray,
                                                  np.ndarray, np.ndarray]:
    """Every pair (i, j) of polygon i of `a` and polygon j of `b` (sets from
    one polygon_sets call) whose closed bboxes touch, i-major, with
    area(A∩B) and IoU = inter / (area_a + area_b − inter), 0 when the
    union is empty.  A∩B is clipped with A's triangles, so (a, b) and
    (b, a) may differ in the last bits."""
    A, B = a.bbox[:, None, :], b.bbox[None, :, :]
    i, j = np.nonzero((A[..., 0] <= B[..., 2]) & (A[..., 2] >= B[..., 0])
                      & (A[..., 1] <= B[..., 3]) & (A[..., 3] >= B[..., 1]))
    inter = intersection_areas([a.tris[k] for k in i.tolist()],
                               [b.tris[k] for k in j.tolist()])
    area_a, area_b = a.area[i], b.area[j]
    # the fan-triangle intersection can overshoot the shoelace area by a few
    # ulps; A∩B ≤ min(area A, area B) holds exactly
    inter = np.minimum(inter, np.minimum(area_a, area_b))
    union = area_a + area_b - inter
    iou = np.divide(inter, union, out=np.zeros_like(inter), where=union > 0)
    return i, j, inter, iou


# ---------------------------------------------------------------------------
# Grid generation — bit-exact split_geom (solaris/utils/geo.py:743-837)
# ---------------------------------------------------------------------------

def split_geom_bounds(bounds, tile_size, resolution=None,
                      use_projection_units=False,
                      geometry_rings: list[np.ndarray] | None = None) -> np.ndarray:
    """Tile bounds [left,bottom,right,top] replicating split_geom exactly.

    `bounds` is the (xmin, ymin, xmax, ymax) of the geometry (after any
    src-image intersection).  np.arange float semantics are preserved so the
    tile IDs match the reference byte-for-byte.  If geometry_rings is given,
    tiles not touching the polygon (closed-set test, matching shapely's
    non-empty intersection incl. boundary touch) are dropped.
    """
    if use_projection_units:
        ts_y, ts_x = float(tile_size[0]), float(tile_size[1])
    else:
        if isinstance(resolution, (int, float)):
            resolution = (resolution, resolution)
        ts_y = tile_size[0] * resolution[0]
        ts_x = tile_size[1] * resolution[1]
    xmin, ymin, xmax, ymax = bounds
    x_steps = np.ceil((xmax - xmin) / ts_x)
    y_steps = np.ceil((ymax - ymin) / ts_y)
    x_mins = np.arange(xmin, xmin + ts_x * x_steps, ts_x)
    y_mins = np.arange(ymin, ymin + ts_y * y_steps, ts_y)
    out = []
    for i in x_mins:
        for j in y_mins:
            rect = (i, j, i + ts_x, j + ts_y)
            if geometry_rings is None:
                keep = not (rect[0] > xmax or rect[2] < xmin or rect[1] > ymax or rect[3] < ymin)
            else:
                keep = rect_intersects_polygon(rect, geometry_rings)
            if keep:
                out.append(rect)
    return np.asarray(out, dtype=np.float64).reshape(-1, 4)


# ---------------------------------------------------------------------------
# Douglas–Peucker (solaris/vector/mask.py:804-807, tolerance 0.5)
# ---------------------------------------------------------------------------

def simplify_dp(coords: np.ndarray, tol: float) -> np.ndarray:
    closed = np.array_equal(coords[0], coords[-1])
    pts = coords
    n = len(pts)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    while stack:
        s, e = stack.pop()
        if e <= s + 1:
            continue
        seg = pts[e] - pts[s]
        L = math.hypot(seg[0], seg[1])
        mid = pts[s + 1 : e]
        if L == 0.0:
            d = np.sqrt(((mid - pts[s]) ** 2).sum(axis=1))
        else:
            d = np.abs(np.cross(seg, mid - pts[s])) / L
        imax = int(np.argmax(d))
        if d[imax] > tol:
            k = s + 1 + imax
            keep[k] = True
            stack.append((s, k))
            stack.append((k, e))
    out = pts[keep]
    if closed and len(out) < 4:
        return coords  # degenerate — keep original
    return out


# ---------------------------------------------------------------------------
# Buffer — GEOS/JTS offset curves with round joins.  Only the rasterization
# of the buffer must match the reference (solaris/vector/mask.py:567-666
# buffer_df_geoms), so the raw offset curve is filled with nonzero winding
# instead of being noded into a valid polygon.
# ---------------------------------------------------------------------------

def offset_curves(xy: np.ndarray, offsets: np.ndarray, radius: float
                  ) -> tuple[np.ndarray, np.ndarray]:
    """Raw GEOS/JTS-style offset curves of many rings in one NumPy pass,
    radius > 0, round joins, quad_segs = 16.  The rings are stored back to
    back, ring k at ``xy[offsets[k]:offsets[k + 1]]`` (float64: the layout
    pack_polygons and doubled_paths return); returns ``(xy, offsets)`` of
    the closed curves in the same layout, curve k from ring k.

    Replicates OffsetSegmentGenerator vertex placement: each edge offset
    outward by `radius`; convex vertices filled with arc points spaced
    delta = totalAngle / round(totalAngle/(pi/2/quad_segs)); reflex vertices
    just connect the two offset endpoints (the raw curve self-intersects
    there — fill with NONZERO winding, which equals the topological union
    GEOS computes); an exact direction reversal (a spike, or a line end)
    gets a π cap arc.  Matches shapely 1.7 .buffer(r, resolution=16)
    boundary lines exactly (same vertices ⇒ same scanline intersections ⇒
    pixel-exact rasterization parity incl. GDAL boundary tie rules).

    Like OffsetCurveSetBuilder, repeated vertices are dropped first (a
    zero-length edge has no offset direction), and a ring that collapses
    to one distinct point buffers to the radius-`radius` circle of
    OffsetSegmentGenerator.createCircle: clockwise from (x + radius, y).

    Every vertex is bit-identical to the sequential per-vertex recipe:
    each ring's outward side from the sign of one _shoelace sum (the sign
    ring_signed_area gives), elementwise IEEE arithmetic, arc angles
    accumulated ``ang += delta`` by a row-wise cumsum (sequential), and
    ``math.atan2`` / ``math.cos`` / ``math.sin`` (NumPy's SIMD versions
    round differently) mapped over the arc vertices only."""
    quantum = math.pi / 2.0 / 16
    nr = len(offsets) - 1
    if nr == 0:
        return np.empty((0, 2)), np.zeros(1, dtype=np.int64)
    n_in = np.diff(offsets)
    first_in = offsets[:-1]
    closed = (n_in > 1) & (xy[first_in] == xy[first_in + n_in - 1]).all(1)
    # a closed ring's repeated last vertex is not a vertex of the curve
    keep = np.ones(len(xy), dtype=bool)
    keep[(first_in + n_in - 1)[closed]] = False
    px, py = xy[keep, 0], xy[keep, 1]
    n = n_in - closed
    rid, st, nxt, dx, dy = _ring_walk(px, py, n)
    moved = (dx != 0.0) | (dy != 0.0)
    is_point = np.bincount(rid, weights=moved, minlength=nr) == 0
    pt_x, pt_y = px[st[is_point]], py[st[is_point]]
    if not moved.all():
        px, py = px[moved], py[moved]
        n = np.bincount(rid[moved], minlength=nr)
        rid, st, nxt, dx, dy = _ring_walk(px, py, n)

    # orientation: the sign of the ring's shoelace sum (ring_signed_area's
    # sign: a closing vertex adds only zero terms)
    x0 = st[rid]
    s = np.where(_shoelace(px, py, rid, x0, nxt, n) > 0.0, 1.0, -1.0)

    # outward unit normal of every edge (edge i runs from vertex i to nxt[i])
    sv = s[rid]
    lens = np.sqrt(dx ** 2 + dy ** 2)
    enx = (sv * dy) / lens
    eny = (-sv * dx) / lens
    prv = np.empty_like(nxt)
    prv[nxt] = np.arange(len(nxt))
    # vertex i closes edge prv[i] at p1 and opens edge i at p2
    p1x = px + radius * enx[prv]
    p1y = py + radius * eny[prv]
    p2x = px + radius * enx
    p2y = py + radius * eny
    cross = dx[prv] * dy - dy[prv] * dx
    dot = dx[prv] * dx + dy[prv] * dy
    cap = (cross == 0.0) & (dot < 0.0)
    ai = np.flatnonzero((sv * cross > 0.0) | cap)
    th1 = np.fromiter(map(math.atan2, eny[prv[ai]].tolist(),
                          enx[prv[ai]].tolist()), dtype=np.float64,
                      count=len(ai))
    th2 = np.fromiter(map(math.atan2, eny[ai].tolist(), enx[ai].tolist()),
                      dtype=np.float64, count=len(ai))
    sa = sv[ai]
    total = np.where(cap[ai], math.pi,
                     np.remainder(sa * (th2 - th1), 2 * math.pi))
    ok = (total > 0.0) & (total <= math.pi)
    nseg = np.where(ok, total / quantum + 0.5, 0.0).astype(np.int64)
    ok &= nseg >= 1
    ai, th1, sa, total, nseg = ai[ok], th1[ok], sa[ok], total[ok], nseg[ok]
    narc = np.zeros(len(px), dtype=np.int64)
    arc_x = arc_y = np.empty(0)
    if len(ai):
        delta = total / nseg
        ang = np.cumsum(np.broadcast_to(delta[:, None],
                                        (len(ai), int(nseg.max()))), axis=1)
        inarc = ang < (total - 1e-12)[:, None]
        narc[ai] = inarc.sum(axis=1)
        th = (th1[:, None] + sa[:, None] * ang)[inarc].tolist()
        cos = np.fromiter(map(math.cos, th), dtype=np.float64, count=len(th))
        sin = np.fromiter(map(math.sin, th), dtype=np.float64, count=len(th))
        arc_x = np.repeat(px[ai], narc[ai]) + radius * cos
        arc_y = np.repeat(py[ai], narc[ai]) + radius * sin

    # layout: per vertex p1, its arc, p2; per ring the closing p1 of its
    # first vertex; a point ring is the createCircle polygon
    cx, cy = _unit_circle(quantum)
    cnt = 2 + narc
    ring_len = np.where(is_point, len(cx),
                        np.bincount(rid, weights=cnt, minlength=nr)
                        .astype(np.int64) + 1)
    offsets = np.concatenate(([0], np.cumsum(ring_len)))
    xy = np.empty((int(offsets[-1]), 2))
    run = np.cumsum(cnt) - cnt
    pos = offsets[:-1][rid] + run - run[x0]
    xy[pos, 0], xy[pos, 1] = p1x, p1y
    xy[pos + 1 + narc, 0], xy[pos + 1 + narc, 1] = p2x, p2y
    if len(ai):
        k = np.repeat(pos[ai] + 1 - (np.cumsum(narc[ai]) - narc[ai]),
                      narc[ai]) + np.arange(len(arc_x))
        xy[k, 0], xy[k, 1] = arc_x, arc_y
    ring_end = offsets[1:][~is_point] - 1
    xy[ring_end] = xy[offsets[:-1][~is_point]]
    if is_point.any():
        k = offsets[:-1][is_point][:, None] + np.arange(len(cx))
        xy[k, 0] = pt_x[:, None] + radius * cx
        xy[k, 1] = pt_y[:, None] + radius * cy
        # the circle starts and ends at (x + radius, y) exactly
        xy[k[:, 0], 1] = xy[k[:, -1], 1] = pt_y
    return xy, offsets


def _shoelace(x: np.ndarray, y: np.ndarray, rid: np.ndarray,
              first: np.ndarray, nxt: np.ndarray, n: np.ndarray):
    """Twice the signed area of each ring stored back to back (vertex i in
    ring ``rid[i]``, whose first vertex is ``first[i]``, followed by
    ``nxt[i]``): the terms ``x[i]·y[nxt[i]] − y[i]·x[nxt[i]]`` about the
    ring's first vertex, added in vertex order by one bincount — the
    engine's one ring-area sum, which ring_signed_area takes for one
    ring."""
    xc = x - x[first]
    yc = y - y[first]
    return np.bincount(rid, weights=xc * yc[nxt] - yc * xc[nxt],
                       minlength=len(n))


def _ring_walk(px: np.ndarray, py: np.ndarray, n: np.ndarray):
    """Ring id, ring start, next-vertex index (wrapping inside each ring)
    and edge vectors of rings stored back to back, ``n[k]`` vertices each."""
    rid = np.repeat(np.arange(len(n)), n)
    st = np.cumsum(n) - n
    nxt = np.arange(1, len(px) + 1)
    last = (st + n - 1)[n > 0]
    nxt[last] = st[n > 0]
    return rid, st, nxt, px[nxt] - px, py[nxt] - py


def _unit_circle(quantum: float) -> tuple[np.ndarray, np.ndarray]:
    """cos/sin of createCircle's angles 0, −inc, −2·inc, … and back to 0."""
    nsegs = int(2.0 * math.pi / quantum + 0.5)
    inc = 2.0 * math.pi / nsegs
    th = (-np.arange(1, nsegs) * inc).tolist()
    cx = [1.0, *map(math.cos, th), 1.0]
    cy = [0.0, *map(math.sin, th), 0.0]
    return np.array(cx), np.array(cy)


def doubled_paths(xy: np.ndarray, offsets: np.ndarray
                  ) -> tuple[np.ndarray, np.ndarray]:
    """Open lines stored back to back (line k is ``xy[offsets[k]:
    offsets[k + 1]]``, at least one vertex) as the closed doubled paths
    p0..pn-1..p1, p0, packed the same way: offset_curves of a doubled path
    IS the GEOS buffer outline of its line with round caps (the direction
    reversals at both ends turn into π cap arcs).  A closed line (first
    vertex = last) is doubled without its closing vertex.  A doubled path
    has zero signed area, so its orientation is whichever sign the
    shoelace rounding gives; both sides of the path get the same capsule
    under nonzero winding (sides swap, arcs sweep the other way)."""
    n = np.diff(offsets)
    start = offsets[:-1]
    m = n - ((n >= 2) & (xy[start] == xy[start + n - 1]).all(axis=1))
    size = m + np.maximum(m - 2, 0) + 1
    ends = np.cumsum(size)
    j = np.arange(size.sum()) - np.repeat(ends - size, size)
    mk = np.repeat(m, size)
    # out along the line, back to its second vertex, then the first again
    j = np.where(j < mk, j, 2 * (mk - 1) - j)
    j[ends - 1] = 0
    return xy[np.repeat(start, size) + j], np.concatenate(([0], ends))


# ---------------------------------------------------------------------------
# WGS84 ↔ UTM — transverse Mercator, Krüger series (public formulas; see
# Karney 2011, "Transverse Mercator with an accuracy of a few nanometers").
# Only CRS pair the reference fixtures use (solaris/utils/geo.py:597-696).
# ---------------------------------------------------------------------------

_WGS84_A = 6378137.0
_WGS84_F = 1.0 / 298.257223563
_UTM_K0 = 0.9996
_UTM_FE = 500000.0


def _tm_consts():
    f = _WGS84_F
    n = f / (2 - f)
    A = _WGS84_A / (1 + n) * (1 + n ** 2 / 4 + n ** 4 / 64 + n ** 6 / 256)
    alpha = [
        n / 2 - 2 * n ** 2 / 3 + 5 * n ** 3 / 16 + 41 * n ** 4 / 180,
        13 * n ** 2 / 48 - 3 * n ** 3 / 5 + 557 * n ** 4 / 1440,
        61 * n ** 3 / 240 - 103 * n ** 4 / 140,
        49561 * n ** 4 / 161280,
    ]
    beta = [
        n / 2 - 2 * n ** 2 / 3 + 37 * n ** 3 / 96 - n ** 4 / 360,
        n ** 2 / 48 + n ** 3 / 15 - 437 * n ** 4 / 1440,
        17 * n ** 3 / 480 - 37 * n ** 4 / 840,
        4397 * n ** 4 / 161280,
    ]
    delta = [
        2 * n - 2 * n ** 2 / 3 - 2 * n ** 3 + 116 * n ** 4 / 45,
        7 * n ** 2 / 3 - 8 * n ** 3 / 5 - 227 * n ** 4 / 45,
        56 * n ** 3 / 15 - 136 * n ** 4 / 35,
        4279 * n ** 4 / 630,
    ]
    return n, A, alpha, beta, delta


_TM_N, _TM_A, _TM_ALPHA, _TM_BETA, _TM_DELTA = _tm_consts()


def utm_zone_epsg(lon: float, lat: float) -> int:
    """EPSG for UTM zone containing (lon, lat) — solaris/utils/geo.py:643-696."""
    zone = int((lon + 180) // 6) + 1
    zone = min(max(zone, 1), 60)
    return (32600 if lat >= 0 else 32700) + zone


def wgs84_to_utm(lon, lat, epsg: int):
    """Forward transverse Mercator. lon/lat arrays in degrees → (easting, northing)."""
    zone = epsg % 100
    south = 32700 <= epsg < 32800
    lon0 = math.radians(zone * 6 - 183)
    lam = np.radians(np.asarray(lon, dtype=np.float64)) - lon0
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    f = _WGS84_F
    e = math.sqrt(f * (2 - f))
    t = np.sinh(np.arctanh(np.sin(phi)) - e * np.arctanh(e * np.sin(phi)))
    xi_p = np.arctan2(t, np.cos(lam))
    eta_p = np.arcsinh(np.sin(lam) / np.sqrt(t * t + np.cos(lam) ** 2))
    xi = xi_p.copy()
    eta = eta_p.copy()
    for j, a in enumerate(_TM_ALPHA, start=1):
        xi = xi + a * np.sin(2 * j * xi_p) * np.cosh(2 * j * eta_p)
        eta = eta + a * np.cos(2 * j * xi_p) * np.sinh(2 * j * eta_p)
    E = _UTM_FE + _UTM_K0 * _TM_A * eta
    N = _UTM_K0 * _TM_A * xi + (10000000.0 if south else 0.0)
    return E, N


def utm_to_wgs84(easting, northing, epsg: int):
    zone = epsg % 100
    south = 32700 <= epsg < 32800
    lon0 = math.radians(zone * 6 - 183)
    x = np.asarray(easting, dtype=np.float64) - _UTM_FE
    y = np.asarray(northing, dtype=np.float64) - (10000000.0 if south else 0.0)
    xi = y / (_UTM_K0 * _TM_A)
    eta = x / (_UTM_K0 * _TM_A)
    xi_p = xi.copy()
    eta_p = eta.copy()
    for j, b in enumerate(_TM_BETA, start=1):
        xi_p = xi_p - b * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
        eta_p = eta_p - b * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
    chi = np.arcsin(np.sin(xi_p) / np.cosh(eta_p))
    phi = chi.copy()
    for j, d in enumerate(_TM_DELTA, start=1):
        phi = phi + d * np.sin(2 * j * chi)
    lam = np.arctan2(np.sinh(eta_p), np.cos(xi_p))
    return np.degrees(lam + lon0), np.degrees(phi)


# ---------------------------------------------------------------------------
# Web Mercator (EPSG 3857) — the universal tile-serving CRS.  Defined on
# the SPHERE (R = WGS84 semi-major axis), so these closed forms are the
# exact official transformation, not an approximation (EPSG method 1024,
# "Popular Visualisation Pseudo-Mercator").
# ---------------------------------------------------------------------------

_WEBMERC_R = 6378137.0
_WEBMERC_MAX_LAT = 85.05112877980659  # atan(sinh(pi)) — the square bound


def wgs84_to_webmercator(lon, lat, clamp: bool = False):
    """lon/lat degrees → EPSG 3857 meters (vectorized).

    Domain is |lat| < 90 (proj/GDAL semantics: no clamping, |lat| ≥ 90
    maps to ±inf and latitudes past ±85.05113° land outside the square
    tile bound).  ``clamp=True`` opts into the web-map-library behavior
    (Google/Leaflet): latitudes clipped to ±_WEBMERC_MAX_LAT so y stays
    within ±πR — use it when feeding a slippy-tile pyramid, where an inf
    would otherwise propagate into tile indices."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    if clamp:
        lat = np.clip(lat, -_WEBMERC_MAX_LAT, _WEBMERC_MAX_LAT)
    x = _WEBMERC_R * np.radians(lon)
    y = _WEBMERC_R * np.log(np.tan(np.pi / 4.0 + np.radians(lat) / 2.0))
    return x, y


def webmercator_to_wgs84(x, y):
    """EPSG 3857 meters → lon/lat degrees (vectorized)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    lon = np.degrees(x / _WEBMERC_R)
    lat = np.degrees(2.0 * np.arctan(np.exp(y / _WEBMERC_R)) - np.pi / 2.0)
    return lon, lat


# pyproj transformer cache: {(epsg, to_wgs84?): Transformer}.  pyproj is
# OPTIONAL (absent in this sandbox) — the closed-form 4326/UTM/3857 fast
# paths above never touch it; any other EPSG defers to pyproj when
# installed and raises the documented NotImplementedError otherwise.
_PYPROJ_CACHE: dict = {}


def _pyproj_transform(epsg: int, x, y, *, inverse: bool):
    try:
        from pyproj import Transformer
    except ImportError:
        return None
    key = (epsg, inverse)
    tr = _PYPROJ_CACHE.get(key)
    if tr is None:
        if inverse:  # epsg → lon/lat
            tr = Transformer.from_crs(epsg, 4326, always_xy=True)
        else:        # lon/lat → epsg
            tr = Transformer.from_crs(4326, epsg, always_xy=True)
        _PYPROJ_CACHE[key] = tr
    a, b = tr.transform(np.asarray(x, dtype=np.float64),
                        np.asarray(y, dtype=np.float64))
    return np.asarray(a, dtype=np.float64), np.asarray(b, dtype=np.float64)


def to_wgs84(x, y, epsg: int):
    """(x, y) in ``epsg`` → (lon, lat).  Closed-form pure NumPy for 4326
    (identity), 3857 (exact spherical) and WGS84 UTM zones 326xx/327xx
    (Krüger); any other EPSG (state-plane, LAEA, …) dispatches to pyproj
    when it is installed on the cluster."""
    if epsg == 4326:
        return (np.asarray(x, dtype=np.float64),
                np.asarray(y, dtype=np.float64))
    if epsg == 3857:
        return webmercator_to_wgs84(x, y)
    if 32601 <= epsg <= 32660 or 32701 <= epsg <= 32760:
        return utm_to_wgs84(x, y, epsg)
    out = _pyproj_transform(epsg, x, y, inverse=True)
    if out is not None:
        return out
    raise NotImplementedError(
        f"CRS {epsg}: only 4326, 3857 and WGS84 UTM are pure-NumPy here; "
        "install pyproj on the cluster for arbitrary CRS")


def from_wgs84(lon, lat, epsg: int):
    """(lon, lat) → (x, y) in ``epsg``.  Same support matrix as to_wgs84."""
    if epsg == 4326:
        return (np.asarray(lon, dtype=np.float64),
                np.asarray(lat, dtype=np.float64))
    if epsg == 3857:
        return wgs84_to_webmercator(lon, lat)
    if 32601 <= epsg <= 32660 or 32701 <= epsg <= 32760:
        return wgs84_to_utm(lon, lat, epsg)
    out = _pyproj_transform(epsg, lon, lat, inverse=False)
    if out is not None:
        return out
    raise NotImplementedError(
        f"CRS {epsg}: only 4326, 3857 and WGS84 UTM are pure-NumPy here; "
        "install pyproj on the cluster for arbitrary CRS")


def reproject_wkt(wkt: str, src_epsg: int, dst_epsg: int) -> str:
    """Reproject polygon/linestring WKT between any pair of the supported
    CRS (4326, 3857, WGS84 UTM zones), pivoting through lon/lat."""
    if src_epsg == dst_epsg:
        return wkt
    gtype, parts = wkt_parse(wkt)
    if not parts:
        return wkt

    def conv(arr: np.ndarray) -> np.ndarray:
        lon, lat = to_wgs84(arr[:, 0], arr[:, 1], src_epsg)
        X, Y = from_wgs84(lon, lat, dst_epsg)
        return np.stack([X, Y], axis=1)

    if gtype == "MULTIPOLYGON":
        new = [[conv(r) for r in poly] for poly in parts]
    else:
        new = [conv(r) for r in parts]
    return wkt_dump(gtype, new)

