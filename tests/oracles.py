"""Independent reference kernels the tests compare the engine against.

These are the per-polygon forms the engine's batched kernels replaced.
No engine code imports this module (``test_arrow_udfs.py`` greps the
engine for such an import):

- ``polygon_rings`` parses one WKT and orients its rings one at a time
  (each by the sign of its ``ring_signed_area``), the reference that
  ``test_pack_polygons.py`` holds the engine's one-pass
  ``geom.pack_polygons`` to ring by ring.
- ``rasterize_rings`` is the lexsort scanline fill (crossings sorted by
  (row, x) and paired, even-odd or nonzero winding, REPLACE or ADD into a
  caller's frame).  The engine's one scanline algorithm
  (``raster._transitions`` with its two finishers) is checked against it
  in ``test_r06_optimizations.py`` and ``test_mask_parity.py``.
- ``rasterize_shapes`` (features.rasterize: shapes burnt in order) and
  ``rasterize_geos_buffer`` (buffer(polygon, r) filled with nonzero
  winding) build the reference's masks one label at a time; the golden
  tests in ``test_kernels_raster.py`` pin them to GDAL's output.
- ``oracle_ring_curve`` (with ``oracle_point_curve`` and
  ``oracle_line_curve``) is the sequential per-vertex GEOS offset-curve
  recipe that the engine's batched ``geom.offset_curves`` must equal bit
  for bit (``test_offset_curves.py``); the per-line road oracle in
  ``test_spark_masks.py`` buffers with it.
- ``build_mask_arrays`` is the mask kernel one channel at a time (a
  polygon_rings parse per label, one count frame per channel), the byte
  reference of the engine's one-parse, one-frame ``masks.build_mask_arrays``
  in ``test_mask_parity.py``.
- ``polygon_area`` is the per-polygon area rule, |exterior| − Σ|hole|
  over one ``wkt_parse``, that ``test_kernels_geom.py`` holds the
  engine's one rule, |Σ signed ring area| from ``geom.prepare_polygons``,
  to.
- ``pack`` lays lists of rings out in the engine's packed
  ``(xy, offsets, groups)`` form (this module packs its own rings), and
  ``count`` feeds them to the engine's one-layer
  ``raster.rasterize_count_fields``.
- ``clip_polygon_rect_area``, ``polygon_intersection_area`` and
  ``iou_wkt`` are single-pair area and IoU kernels beside the engine's
  prepared ``geom.polygon_sets`` / ``geom.overlaps``; ``overlap`` is
  the per-pair form of ``geom.overlaps`` (one ``tri_intersection_area``
  call and the scalar IoU rule per pair), which ``test_kernels_geom.py``
  and ``test_geom_bits.py`` compare it with bit for bit.
- ``segments_intersect`` is the scalar form of the closed-set segment
  predicate that ``geom.any_segments_intersect`` evaluates for all edge
  pairs at once, and ``rect_intersects_polygon`` the per-edge-pair loop
  over it that ``geom.rect_intersects_polygon`` replaced with one
  batched call (both checked in ``test_kernels_geom.py``).
- ``cut_window``, ``nodata_fraction`` and ``tile_rows`` with its
  ``raster_cells`` / ``warped_cells`` / ``windowed_cells`` are the
  tile-at-a-time raster tiler: one boundless window read and one float
  nodata comparison per grid cell.  The engine's ``raster.cut_windows``,
  ``raster.nodata_fractions`` and per-column ``tiling._tile_rows`` are
  checked against them in ``test_tile_cut.py``.
- ``resize_area_mean`` is the per-output-pixel area-mean loop that
  ``multimodal.resize_images`` ran before ``raster.area_mean`` gathered
  every block sum at once; ``test_kernels_raster.py`` holds the two
  byte-equal.
- ``packbits_encode`` is a TIFF PackBits (compression 32773) encoder, the
  inverse of the reader's ``tiffio._packbits_decode``; the engine writes
  no PackBits, so ``test_tiff_extras.py`` builds its PackBits files with
  it.
"""

from __future__ import annotations

import math

import numpy as np

from solaris_spark.functions import geom as G
from solaris_spark.functions import pixfmt
from solaris_spark.functions import raster as R
from solaris_spark.functions.tiffio import read_tiff_window
from solaris_spark.operators import tiling

# ---------------------------------------------------------------------------
# Rasterization — GDAL GDALdllImageFilledPolygon semantics:
#   scanline at dy = row + 0.5; edge contributes iff dy1 <= dy < dy2
#   (half-open after orienting dy1 < dy2); intersections sorted and paired
#   (even-odd); pair [xs, xe] burns columns floor(xs+0.5) .. floor(xe+0.5)-1.
# ---------------------------------------------------------------------------


def rasterize_rings(rings: list[np.ndarray], shape: tuple[int, int],
                    out: np.ndarray | None = None, value: int = 1,
                    winding: bool = False, accumulate: bool = False) -> np.ndarray:
    """Fill one polygon (exterior + hole rings, even-odd) into a (H, W) array.

    Coordinates are in pixel space (col = x, row = y), matching
    features.rasterize with the identity transform used at
    solaris/vector/mask.py:204 for pixel-coordinate dataframes.

    ``accumulate=True`` ADDS ``value`` to covered pixels instead of
    replacing them (caller passes an integer ``out``) — overlap counting
    without materializing a full-frame indicator per polygon.  Either way
    only the polygon's bbox window is touched: per-label memory traffic is
    O(bbox), not O(frame), which is what keeps the mask kernel off the
    memory-bandwidth ceiling at high parallelism.
    """
    h, w = shape
    if out is None:
        out = np.zeros((h, w), dtype=np.uint8)
    if not rings:
        return out

    # gather all edges from all rings
    x1s, y1s, x2s, y2s = [], [], [], []
    for ring in rings:
        if len(ring) < 2:
            continue
        x1s.append(ring[:-1, 0]); y1s.append(ring[:-1, 1])
        x2s.append(ring[1:, 0]); y2s.append(ring[1:, 1])
    if not x1s:
        return out
    ex1 = np.concatenate(x1s); ey1 = np.concatenate(y1s)
    ex2 = np.concatenate(x2s); ey2 = np.concatenate(y2s)
    # orient so ey1 < ey2
    flip = ey1 > ey2
    ex1f = np.where(flip, ex2, ex1); ey1f = np.where(flip, ey2, ey1)
    ex2f = np.where(flip, ex1, ex2); ey2f = np.where(flip, ey1, ey2)
    nonh = ey1f != ey2f
    ex1f, ey1f, ex2f, ey2f = ex1f[nonh], ey1f[nonh], ex2f[nonh], ey2f[nonh]
    if len(ex1f) == 0:
        return out

    slope = (ex2f - ex1f) / (ey2f - ey1f)
    # crossing direction for nonzero-winding fill (+1 edge pointed down in
    # pixel space pre-flip, -1 otherwise)
    esign = np.where(flip[nonh], -1, 1).astype(np.int64)

    # vectorized across ALL scanlines: for edge k the scanlines dy = r + 0.5
    # with ey1 <= dy < ey2 are r in [ceil(ey1-0.5), ceil(ey2-0.5) - 1]
    r0 = np.maximum(np.ceil(ey1f - 0.5), 0).astype(np.int64)
    r1 = np.minimum(np.ceil(ey2f - 0.5) - 1, h - 1).astype(np.int64)
    counts = np.maximum(r1 - r0 + 1, 0)
    total = int(counts.sum())
    if total == 0:
        return out
    eidx = np.repeat(np.arange(len(ex1f)), counts)
    # per-repeat scanline row: r0[e] + offset within the edge's run
    offs = np.arange(total) - np.repeat(np.cumsum(counts) - counts, counts)
    rows = r0[eidx] + offs
    dys = rows + 0.5
    xs = ex1f[eidx] + (dys - ey1f[eidx]) * slope[eidx]

    order = np.lexsort((xs, rows))
    rows_s = rows[order]
    xs_s = xs[order]
    # segment boundaries per row
    newrow = np.empty(total, dtype=bool)
    newrow[0] = True
    newrow[1:] = rows_s[1:] != rows_s[:-1]
    seg_start = np.where(newrow)[0]
    pos_in_row = np.arange(total) - np.repeat(seg_start, np.diff(
        np.append(seg_start, total)))

    if winding:
        sgn = esign[eidx][order]
        csum = np.cumsum(sgn)
        base = np.repeat(np.where(newrow, csum - sgn, 0)[seg_start], np.diff(
            np.append(seg_start, total)))
        run = csum - base
        covered = (run != 0)
        last_in_row = np.empty(total, dtype=bool)
        last_in_row[:-1] = newrow[1:]
        last_in_row[-1] = True
        take = covered & ~last_in_row
        starts = np.floor(xs_s[take] + 0.5).astype(np.int64)
        # end x = next element in the same row (guaranteed since not last)
        ends = np.floor(xs_s[np.where(take)[0] + 1] + 0.5).astype(np.int64)
        srows = rows_s[take]
    else:
        even = (pos_in_row % 2) == 0
        starts = np.floor(xs_s[even] + 0.5).astype(np.int64)
        ends = np.floor(xs_s[~even] + 0.5).astype(np.int64)
        srows = rows_s[even]

    keep = (ends > starts) & (starts < w) & (ends > 0)
    if not keep.any():
        return out
    starts = np.clip(starts[keep], 0, w)
    ends = np.clip(ends[keep], 0, w)
    srows = srows[keep]
    # operate on the bbox window only — full-frame cumsum would dominate for
    # small polygons on large rasters
    rlo, rhi = int(srows.min()), int(srows.max())
    clo = int(starts.min())
    chi = min(int(ends.max()), w)
    wh = rhi - rlo + 1
    ww = chi - clo  # ends are exclusive → covered cols are clo..chi-1
    starts = np.clip(starts - clo, 0, ww)
    ends = np.clip(ends - clo, 0, ww)
    diff = np.zeros(wh * (ww + 1), dtype=np.int32)
    np.add.at(diff, (srows - rlo) * (ww + 1) + starts, 1)
    np.add.at(diff, (srows - rlo) * (ww + 1) + ends, -1)
    cov = np.cumsum(diff.reshape(wh, ww + 1), axis=1)[:, :ww] > 0
    sub = out[rlo:rhi + 1, clo:chi]
    if accumulate:
        sub[cov] += value
    else:
        sub[cov] = value
    return out


def rasterize_shapes(shapes, shape: tuple[int, int],
                     transform=None, dtype=np.uint8) -> np.ndarray:
    """features.rasterize equivalent: list of (rings, burn_value) burned in
    order (REPLACE merge).  `transform` is the geo affine (a,b,c,d,e,f) of the
    raster; geometry coords are converted to pixel space with its inverse."""
    h, w = shape
    out = np.zeros((h, w), dtype=dtype)
    inv = None
    if transform is not None and tuple(transform) != (1.0, 0.0, 0.0, 0.0, 1.0, 0.0):
        inv = G.affine_invert(transform)
    for rings, val in shapes:
        if inv is not None:
            rings = [G.affine_apply(r, inv) for r in rings]
        # burn directly into the shared frame (REPLACE on covered pixels —
        # identical to the former out[m > 0] = val, without materializing
        # a full-frame indicator + masked write per shape)
        rasterize_rings(rings, (h, w), out=out, value=val)
    return out


def polygon_rings(wkt: str) -> list[np.ndarray]:
    """The rings of one POLYGON/MULTIPOLYGON WKT as a flat list, each
    reversed where the sign of its ring_signed_area disagrees with its
    role (exterior counter-clockwise, hole clockwise); a ring of signed
    area 0 stays as written."""
    gtype, parts = G.wkt_parse(wkt)
    if gtype == "POLYGON":
        polys = [parts]
    elif gtype == "MULTIPOLYGON":
        polys = parts
    elif not parts:
        return []
    else:
        raise ValueError(f"expected polygonal WKT, got {gtype}")
    out = []
    for rings in polys:
        for k, r in enumerate(rings):
            sa = G.ring_signed_area(r)
            if sa != 0.0 and (sa > 0) != (k == 0):
                r = r[::-1]
            out.append(r)
    return out


def polygon_area(wkt: str) -> float:
    """Area of one POLYGON/MULTIPOLYGON WKT as each polygon's |exterior|
    less the sum of its |holes|, every ring's area by its own
    ring_signed_area, whatever the ring's winding."""
    gtype, parts = G.wkt_parse(wkt)
    polys = parts if gtype == "MULTIPOLYGON" else [parts] if parts else []
    return sum(abs(G.ring_signed_area(rings[0]))
               - sum(abs(G.ring_signed_area(r)) for r in rings[1:])
               for rings in polys)


def pack(ring_groups: list[list[np.ndarray]]):
    """``(xy, offsets, groups)``: lists of rings packed back to back in the
    layout of geom.pack_polygons, ring k at ``xy[offsets[k]:offsets[k +
    1]]`` in group ``groups[k]`` (its list's index)."""
    rings = [r for group in ring_groups for r in group]
    n = [len(r) for r in rings]
    xy = (np.concatenate(rings).astype(np.float64, copy=False) if rings
          else np.empty((0, 2)))
    return (xy, np.concatenate(([0], np.cumsum(n, dtype=np.int64))),
            np.repeat(np.arange(len(ring_groups)),
                      [len(group) for group in ring_groups]))


def count(ring_groups: list[list[np.ndarray]], shape: tuple[int, int],
          winding: bool = False) -> np.ndarray:
    """Per-pixel coverage counts of polygons (one list of rings each) from
    the engine's one-layer rasterize_count_fields over their packed
    rings."""
    return R.rasterize_count_fields([(*pack(ring_groups), winding)],
                                    len(ring_groups), shape)[0]


def rasterize_geos_buffer(rings: list[np.ndarray], radius: float,
                          shape: tuple[int, int],
                          out: np.ndarray | None = None,
                          accumulate: bool = False) -> np.ndarray:
    """Rasterize buffer(polygon, radius) pixel-exactly vs the reference's
    shapely-buffer → GDAL-rasterize path: build the GEOS-style offset
    curves of the polygon's rings (geom.offset_curves, one pass) and
    scanline-fill them with NONZERO winding and the GDAL boundary tie
    rules.  Boundary lines coincide with the GEOS buffer polygon's, so ties
    resolve identically.  masks.build_mask_arrays counts every label's
    curves of an image in one rasterize_count_fields frame instead.

    With ``accumulate=True`` (and an integer ``out``), adds +1 to the
    buffered-union pixels in place — overlap counting with O(bbox) traffic
    per call instead of a full-frame bool + astype + add."""
    xy, offsets, _ = pack([[r for r in rings if len(r) >= 4]])
    xy, offsets = G.offset_curves(xy, offsets, radius)
    curves = np.split(xy, offsets[1:-1])
    if accumulate:
        return rasterize_rings(curves, shape, out=out, value=1,
                               winding=True, accumulate=True)
    m = rasterize_rings(curves, shape, winding=True)
    return m > 0


def oracle_ring_curve(ring: np.ndarray, radius: float,
                      quad_segs: int = 16) -> np.ndarray:
    """GEOS/JTS OffsetSegmentGenerator placement, one vertex at a time:
    each edge offset outward by ``radius``; a convex vertex gets fillet arc
    points spaced totalAngle / round(totalAngle / quantum); an exact
    direction reversal gets a π cap; repeated vertices are dropped first
    and a ring collapsed to one point is createCircle's polygon."""
    pts = ring[:-1] if np.array_equal(ring[0], ring[-1]) else ring
    n = len(pts)
    s = 1.0 if G.ring_signed_area(ring) > 0 else -1.0
    quantum = math.pi / 2.0 / quad_segs
    px_ = pts[:, 0]
    py_ = pts[:, 1]
    nx_ = np.concatenate((px_[1:], px_[:1]))
    ny_ = np.concatenate((py_[1:], py_[:1]))
    dxs_a = nx_ - px_
    dys_a = ny_ - py_
    moved = (dxs_a != 0.0) | (dys_a != 0.0)
    if not moved.all():
        if not moved.any():
            return oracle_point_curve(float(px_[0]), float(py_[0]), radius,
                                      quantum)
        kept = pts[moved]
        return oracle_ring_curve(np.vstack([kept, kept[:1]]), radius,
                                 quad_segs)
    lens_a = np.sqrt(dxs_a ** 2 + dys_a ** 2)
    xs = px_.tolist()
    ys = py_.tolist()
    dxs = dxs_a.tolist()
    dys = dys_a.tolist()
    lens = lens_a.tolist()
    out = []
    for i in range(n):
        j = (i - 1) % n
        if s > 0:
            n1 = (dys[j] / lens[j], -dxs[j] / lens[j])
            n2 = (dys[i] / lens[i], -dxs[i] / lens[i])
        else:
            n1 = (-dys[j] / lens[j], dxs[j] / lens[j])
            n2 = (-dys[i] / lens[i], dxs[i] / lens[i])
        vx, vy = xs[i], ys[i]
        p1 = (vx + radius * n1[0], vy + radius * n1[1])
        p2 = (vx + radius * n2[0], vy + radius * n2[1])
        cross = dxs[j] * dys[i] - dys[j] * dxs[i]
        dot = dxs[j] * dxs[i] + dys[j] * dys[i]
        out.append(p1)
        is_cap = cross == 0.0 and dot < 0.0
        if s * cross > 0.0 or is_cap:
            th1 = math.atan2(n1[1], n1[0])
            th2 = math.atan2(n2[1], n2[0])
            total = math.pi if is_cap else (s * (th2 - th1)) % (2 * math.pi)
            if 0.0 < total <= math.pi:
                nsegs = int(total / quantum + 0.5)
                if nsegs >= 1:
                    delta = total / nsegs
                    ang = delta
                    while ang < total - 1e-12:
                        th = th1 + s * ang
                        out.append((vx + radius * math.cos(th),
                                    vy + radius * math.sin(th)))
                        ang += delta
        out.append(p2)
    out.append(out[0])
    return np.asarray(out, dtype=np.float64)


def oracle_point_curve(x: float, y: float, radius: float,
                       quantum: float) -> np.ndarray:
    """OffsetSegmentGenerator.createCircle: the closed clockwise circle
    starting at (x + radius, y), one vertex per fillet quantum."""
    nsegs = int(2.0 * math.pi / quantum + 0.5)
    inc = 2.0 * math.pi / nsegs
    out = [(x + radius, y)]
    for i in range(1, nsegs):
        th = -i * inc
        out.append((x + radius * math.cos(th), y + radius * math.sin(th)))
    out.append(out[0])
    return np.asarray(out, dtype=np.float64)


def oracle_line_curve(coords: np.ndarray, radius: float) -> np.ndarray:
    """The GEOS buffer outline of an open line with round caps: the
    offset curve of its doubled path p0..pn-1..p1, p0 (a closed line
    without its closing vertex)."""
    pts = np.asarray(coords, dtype=np.float64)
    if len(pts) >= 2 and np.array_equal(pts[0], pts[-1]):
        pts = pts[:-1]
    return oracle_ring_curve(np.vstack([pts, pts[-2:0:-1], pts[:1]]),
                             radius)


def build_mask_arrays(wkts: list[str], shape: tuple[int, int],
                      channels: list[str],
                      boundary_width: int = 3, boundary_type: str = "inner",
                      contact_spacing: float = 10.0,
                      burn_value: int = 255,
                      transform=None) -> np.ndarray:
    """The mask kernel one channel at a time: polygon_rings per label, one
    one-layer rasterize_count_fields footprint count, one of every label's
    offset curves, np.where / np.stack — the byte reference of
    ``masks.build_mask_arrays``."""
    inv = G.affine_invert(transform) if transform is not None else None
    ring_sets = []
    for w in wkts:
        rings = G.polygon_rings(w)
        if inv is not None:
            rings = [G.affine_apply(r, inv) for r in rings]
        ring_sets.append(rings)

    out = {}
    fp = None
    if set(channels) & {"footprint", "boundary", "contact"}:
        cnt_fp = count(ring_sets, shape)
        fp = np.where(cnt_fp > 0, np.uint8(burn_value), np.uint8(0))
    if "footprint" in channels:
        out["footprint"] = fp
    if "boundary" in channels:
        if boundary_type == "outer":
            b = R.dilation_square(fp, boundary_width) ^ fp
        else:
            b = R.erosion_square(fp, boundary_width) ^ fp
        out["boundary"] = (b > 0).astype(np.uint8) * burn_value
    if "contact" in channels:
        xy, offsets, groups = pack([[r for r in label if len(r) >= 4]
                                    for label in ring_sets])
        xy, offsets = G.offset_curves(xy, offsets, contact_spacing / 2.0)
        cnt = R.rasterize_count_fields([(xy, offsets, groups, True)],
                                       len(ring_sets), shape)[0]
        c = (cnt >= 2) & (fp == 0)
        out["contact"] = c.astype(np.uint8) * burn_value
    return np.stack([out[c] for c in channels], axis=-1)


# ---------------------------------------------------------------------------
# Single-pair polygon areas and IoU
# ---------------------------------------------------------------------------


def clip_polygon_rect_area(rings: list[np.ndarray], rect) -> float:
    """Area of polygon ∩ rect (signed-ring aggregation handles holes)."""
    return G.clip_polygon_rect(rings, rect,
                               [G.ring_signed_area(r) for r in rings])[1]


def polygon_intersection_area(rings_a: list[np.ndarray], rings_b: list[np.ndarray]) -> float:
    """Exact-to-float area of A ∩ B for simple polygons (holes supported),
    in a local frame centred on the bbox overlap — with absolute coords ~1e6
    the fan triangle cross-products would lose ~10 digits to cancellation."""
    if not rings_a or not rings_b:
        return 0.0
    alla, allb = np.vstack(rings_a), np.vstack(rings_b)
    lo = np.maximum(alla.min(axis=0), allb.min(axis=0))
    hi = np.minimum(alla.max(axis=0), allb.max(axis=0))
    if (lo > hi).any():
        return 0.0
    origin = 0.5 * (lo + hi)
    return G.tri_intersection_area(G.fan_decompose(rings_a, origin),
                                   G.fan_decompose(rings_b, origin))


def iou_rule(inter: float, area_a: float, area_b: float
             ) -> tuple[float, float]:
    """(inter, IoU) with inter clamped to the smaller area (the fan sum can
    overshoot a shoelace area by a few ulps) and IoU 0 when the union is
    not positive — the rule ``geom.overlaps`` applies to arrays."""
    inter = min(inter, area_a, area_b)
    union = area_a + area_b - inter
    return inter, (inter / union if union > 0 else 0.0)


def overlap(a: G.PolygonSet, i: int, b: G.PolygonSet, j: int
            ) -> tuple[float, float]:
    """(area(A∩B), IoU) of polygon i of `a` and polygon j of `b` (sets from
    one polygon_sets call), one pair at a time."""
    return iou_rule(G.tri_intersection_area(a.tris[i], b.tris[j]),
                    a.area[i], b.area[j])


def iou_wkt(wkt_a: str, wkt_b: str) -> float:
    """IoU of two polygonal WKTs under the same rule as `geom.overlaps`; a
    single pair needs no shared frame, so the intersection is taken in the
    pair's own bbox-overlap frame (polygon_intersection_area)."""
    ra, rb = G.polygon_rings(wkt_a), G.polygon_rings(wkt_b)
    return iou_rule(polygon_intersection_area(ra, rb),
                    abs(sum(G.ring_signed_area(r) for r in ra)),
                    abs(sum(G.ring_signed_area(r) for r in rb)))[1]


# ---------------------------------------------------------------------------
# Scalar segment predicate (closed-set: endpoint and collinear touches
# count) and the per-edge rect/polygon test built on it
# ---------------------------------------------------------------------------


def _orient(ax, ay, bx, by, cx, cy):
    return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)


def _on_seg(ax, ay, bx, by, px_, py_):
    return (min(ax, bx) <= px_ <= max(ax, bx)) and (min(ay, by) <= py_ <= max(ay, by))


def segments_intersect(a1, a2, b1, b2) -> bool:
    d1 = _orient(*b1, *b2, *a1)
    d2 = _orient(*b1, *b2, *a2)
    d3 = _orient(*a1, *a2, *b1)
    d4 = _orient(*a1, *a2, *b2)
    if ((d1 > 0) != (d2 > 0)) and ((d3 > 0) != (d4 > 0)) and d1 != 0 and d2 != 0 and d3 != 0 and d4 != 0:
        return True
    if d1 == 0 and _on_seg(*b1, *b2, *a1):
        return True
    if d2 == 0 and _on_seg(*b1, *b2, *a2):
        return True
    if d3 == 0 and _on_seg(*a1, *a2, *b1):
        return True
    if d4 == 0 and _on_seg(*a1, *a2, *b2):
        return True
    return False


def rect_intersects_polygon(rect, rings: list[np.ndarray]) -> bool:
    """True iff closed rect [xmin,ymin,xmax,ymax] touches/overlaps the
    polygon, the edge test looping over every (polygon edge, rect edge)
    pair with the scalar segments_intersect."""
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
    if G.points_in_polygon(cx, cy, rings).any():
        return True
    # edge-edge intersection
    corners = [(xmin, ymin), (xmax, ymin), (xmax, ymax), (xmin, ymax), (xmin, ymin)]
    for ring in rings:
        for i in range(len(ring) - 1):
            a1 = (ring[i, 0], ring[i, 1])
            a2 = (ring[i + 1, 0], ring[i + 1, 1])
            for j in range(4):
                if segments_intersect(a1, a2, corners[j], corners[j + 1]):
                    return True
    return False


# ---------------------------------------------------------------------------
# Raster tiling, one tile at a time (solaris/tile/raster_tile.py:152-219,
# window read with boundless fill :332-348, nodata filter :189-204)
# ---------------------------------------------------------------------------


def cut_window(src: np.ndarray, transform, bounds, tile_hw: tuple[int, int],
               fill_value: float = 0) -> tuple[np.ndarray, tuple]:
    """Cut tile ``bounds`` = (xmin, ymin, xmax, ymax) from (C, Y, X) ``src``
    with geo ``transform``; out-of-extent area filled with ``fill_value``.
    Returns (tile (C, th, tw), tile_transform); the window is rasterio
    from_bounds' col = (x - c)/a, row = (y - f)/e, rounded to int."""
    a, b, c0, d, e, f0 = transform
    th, tw = tile_hw
    xmin, ymin, xmax, ymax = bounds
    col0 = int(round((xmin - c0) / a))
    row0 = int(round((ymax - f0) / e))
    C, H, W = src.shape
    tile = np.full((C, th, tw), fill_value, dtype=src.dtype)
    r0, r1 = max(row0, 0), min(row0 + th, H)
    c0_, c1 = max(col0, 0), min(col0 + tw, W)
    if r1 > r0 and c1 > c0_:
        tile[:, r0 - row0:r1 - row0, c0_ - col0:c1 - col0] = \
            src[:, r0:r1, c0_:c1]
    return tile, (a, b, c0 + col0 * a, d, e, f0 + row0 * e)


def nodata_fraction(tile: np.ndarray, nodata) -> float:
    """Fraction of pixels where ALL bands equal nodata, by NumPy's own
    ``tile == nodata`` (integers against a float compare in float64)."""
    if nodata is None:
        return 0.0
    return float(np.all(tile == nodata, axis=0).mean())


def tile_rows(cells, tile_size, nodata_threshold, res):
    """TILE_SCHEMA rows of one input row, one grid cell at a time:
    ``cells(row, nodata)`` yields (tile_id, tx, ty, bounds, tile) per cell,
    tile being its (C, th, tw) pixels."""
    th, tw = tile_size

    def rows_of(row):
        # a NULL (or NaN) nodata column means 0
        nod = 0 if row.nodata is None or row.nodata != row.nodata \
            else row.nodata
        a, e = res or (row.a, row.e)
        for tile_id, tx, ty, t, tile in cells(row, nod):
            nf = nodata_fraction(tile, nod)
            if nodata_threshold is not None and nf >= nodata_threshold:
                continue
            yield (tile_id, row.image_id, tx, ty, t[0], t[1], t[2], t[3],
                   tile, th, tw, tile.shape[0], pixfmt.raw_fmt(tile), a, e,
                   nf)

    return rows_of


def _grid_cells(tb: np.ndarray):
    """(bounds, tx, ty) per grid cell, tx / ty the rank of its xmin / ymax."""
    tx = np.unique(tb[:, 0], return_inverse=True)[1]
    ty = np.unique(tb[:, 3], return_inverse=True)[1]
    return zip(tb, tx.tolist(), ty.tolist())


def raster_cells(tile_size, aoi_rings=None):
    """raster_tiles' cells: decode, blank pixels outside the AOI, cut every
    grid cell with its own boundless window read."""

    def cells(row, nod):
        arr = pixfmt.decode(row.fmt, row.bytes, row.w, row.h)
        transform = (row.a, row.b, row.c, row.d, row.e, row.f)
        if aoi_rings is not None:
            inv = G.affine_invert(transform)
            rings_px = [G.affine_apply(r, inv) for r in aoi_rings]
            inside = R.rasterize_rings(rings_px, (row.h, row.w)) > 0
            arr = np.where(inside[None], arr, np.asarray(nod, dtype=arr.dtype))
        tb = tiling._grid_for_image(row.a, row.e, row.c, row.f, row.w, row.h,
                                    tile_size, aoi_rings=aoi_rings)
        for t, tx, ty in _grid_cells(tb):
            tile, tt = cut_window(arr, transform, tuple(t), tile_size,
                                  fill_value=nod)
            yield tiling.tile_name(row.image_id, tt[2], tt[5]), tx, ty, t, tile

    return cells


def warped_cells(tile_size, dest_epsg, dest_res, resampling="bilinear"):
    """raster_tiles_warped's cells: one warp per dest-CRS grid cell."""

    def cells(row, nod):
        arr = pixfmt.decode(row.fmt, row.bytes, row.w, row.h)
        src_t = (row.a, row.b, row.c, row.d, row.e, row.f)
        src_epsg = int(row.epsg)
        corners = np.array([[0.0, 0.0], [row.w, 0.0], [row.w, row.h],
                            [0.0, row.h], [0.0, 0.0]])
        geo = G.affine_apply(corners, src_t)
        if src_epsg != dest_epsg:
            lon, lat = G.to_wgs84(geo[:, 0], geo[:, 1], src_epsg)
            x, y = G.from_wgs84(lon, lat, dest_epsg)
            geo = np.stack([x, y], axis=1)
        bounds = (geo[:, 0].min(), geo[:, 1].min(),
                  geo[:, 0].max(), geo[:, 1].max())
        tb = G.split_geom_bounds(bounds, tile_size, resolution=dest_res)
        for t, tx, ty in _grid_cells(tb):
            dst_t = (dest_res[0], 0.0, t[0], 0.0, -dest_res[1], t[3])
            tile = R.warp(arr, src_t, src_epsg, dst_t, dest_epsg, tile_size,
                          nodata=nod, resampling=resampling)
            yield tiling.tile_name(row.image_id, t[0], t[3]), tx, ty, t, tile

    return cells


def windowed_cells(tile_size, level=0):
    """raster_tiles_windowed's cells: one file window read per job row."""

    ty_px, tx_px = tile_size

    def cells(row, nod):
        col0 = int(round((row.xmin - row.c) / row.a))
        row0 = int(round((row.ymax - row.f) / row.e))
        win = read_tiff_window(row.path, row0, col0, ty_px, tx_px,
                               level=level)
        tile = np.full((win.array.shape[0], ty_px, tx_px), nod,
                       dtype=win.array.dtype)
        r0, c0, r1, c1 = win.tags["window"]
        tile[:, r0 - row0:r1 - row0, c0 - col0:c1 - col0] = win.array
        yield (row.tile_id, row.tx, row.ty,
               (row.xmin, row.ymin, row.xmax, row.ymax), tile)

    return cells


# ---------------------------------------------------------------------------
# Area-mean resize, one output pixel at a time
# ---------------------------------------------------------------------------


def resize_area_mean(arr: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """(C, H, W) ``arr`` resized to (C, out_h, out_w) in its own dtype: per
    channel one 2-D cumsum, then each output pixel's block sum and mean in
    its own Python step, written into an array of ``arr``'s dtype."""
    C, H, W = arr.shape
    ys = np.minimum((np.arange(out_h + 1) * H / out_h).astype(int), H)
    xs = np.minimum((np.arange(out_w + 1) * W / out_w).astype(int), W)
    res = np.empty((C, out_h, out_w), dtype=arr.dtype)
    for c in range(C):
        cs = np.zeros((H + 1, W + 1))
        cs[1:, 1:] = arr[c].astype(np.float64).cumsum(0).cumsum(1)
        for i in range(out_h):
            y0, y1 = ys[i], max(ys[i + 1], ys[i] + 1)
            for j in range(out_w):
                x0, x1 = xs[j], max(xs[j + 1], xs[j] + 1)
                s = cs[y1, x1] - cs[y0, x1] - cs[y1, x0] + cs[y0, x0]
                res[c, i, j] = s / ((y1 - y0) * (x1 - x0))
    return res


def packbits_encode(data: bytes) -> bytes:
    """PackBits encoder: runs of >=3 identical bytes become repeat
    packets (max 128), everything else literal packets (max 128)."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, data[i]])
            i += run
            continue
        lit = i
        while i < n and i - lit < 128:
            run = 1
            while i + run < n and run < 3 and data[i + run] == data[i]:
                run += 1
            if run >= 3:
                break
            i += 1
        out += bytes([i - lit - 1]) + data[lit:i]
    return bytes(out)
