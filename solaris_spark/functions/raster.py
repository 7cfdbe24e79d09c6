"""Pure-NumPy raster kernels: polygon rasterization (GDAL-compatible),
morphology, tile cutting, PSNR, perceptual hash.

Parity targets in the reference:
- rasterize          → rasterio.features.rasterize as used by
                       solaris/vector/mask.py:222-224 (footprint), GDAL
                       scanline fill, pixel-center rule, even-odd parity
- boundary morphology→ skimage erosion/dilation with square strel,
                       solaris/vector/mask.py:300-310
- tile window read   → rasterio window + boundless pad,
                       solaris/tile/raster_tile.py:332-348
- nodata fraction    → solaris/tile/raster_tile.py:189-204
- phash / PSNR       → not in reference; required by BASELINE.json input_hint
"""

from __future__ import annotations

import numpy as np

from . import geom as G

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


def rasterize_count_groups(ring_groups: list[list[np.ndarray]],
                           shape: tuple[int, int],
                           winding: bool = False) -> np.ndarray:
    """Coverage COUNTS over many polygons in ONE vectorized pass: returns an
    int32 (H, W) array where each pixel holds the number of `ring_groups`
    entries covering it (each group = one polygon's rings, filled even-odd,
    or nonzero-winding when ``winding``).

    Bit-equivalent to looping ``rasterize_rings(accumulate=True)`` per
    group: the edges, scanline positions ``r + 0.5`` and intersection xs
    are the same expressions.  Only the crossings' order differs.  A pixel
    decision depends on a crossing's rounded column ``col = floor(x + 0.5)``
    alone: column c of one (group, row) is covered iff the running crossing
    count (even-odd: odd) or winding sum (nonzero: != 0) over the crossings
    with ``col <= c`` says so.  Crossings that tie on ``col`` put their
    transitions into the same difference cell, where they cancel in any
    order, so one stable argsort of the integer key
    ``(group·h + row)·(w + 1) + clip(col, 0, w)`` orders them (crossings
    arrive in per-edge runs, which timsort merges cheaply).  Both fill
    rules then share one pass: a running sum per (group, row) segment, its
    coverage indicator, and the indicator's ±1 changes added into a flat
    int32 difference array of ``h·w + 1`` cells.  Every segment opens and
    closes at indicator 0, so each row's changes sum to zero; a change
    right of the frame (``col = w``) may land on the next row's first cell
    and the flat cumsum still equals the row-wise one, giving the counts in
    place.  The per-group fixed cost (~40 array ops per ``rasterize_rings``
    call) is paid once for the whole batch — this is the mask kernel's hot
    path (a SpaceNet-like image carries 100-250 footprints).

    The key is below ``len(ring_groups)·h·(w + 1)``.  A frame whose int32
    counts fit in memory has far fewer than 2^40 cells, which leaves room
    for over 2^23 groups per call before int64 wraps, orders of magnitude
    above any image's label count; past that bound the call raises rather
    than wrap.
    """
    rings, groups = [], []
    for gi, group in enumerate(ring_groups):
        rings.extend(group)
        groups.extend([gi] * len(group))
    n = np.fromiter(map(len, rings), dtype=np.int64, count=len(rings))
    xy = np.concatenate(rings) if rings else np.empty((0, 2))
    return rasterize_count_packed(xy, np.concatenate(([0], np.cumsum(n))),
                                  np.asarray(groups, dtype=np.int64),
                                  len(ring_groups), shape, winding)


def rasterize_count_packed(xy: np.ndarray, offsets: np.ndarray,
                           groups: np.ndarray, n_groups: int,
                           shape: tuple[int, int],
                           winding: bool = False) -> np.ndarray:
    """rasterize_count_groups over rings stored back to back: ring k is
    ``xy[offsets[k]:offsets[k + 1]]`` and belongs to group ``groups[k]``
    (``0 <= groups[k] < n_groups``, rings in group order) — the layout
    geom.offset_curves returns, so a whole image's buffers are counted
    without splitting them into per-ring arrays."""
    h, w = shape
    if n_groups * h * (w + 1) >= 2 ** 63:
        raise ValueError(f"{n_groups} groups on a {h}x{w} frame "
                         "overflow the int64 crossing key")
    diff = np.zeros(h * w + 1, dtype=np.int32)
    counts = diff[:h * w].reshape(h, w)
    nv = len(xy)
    if nv < 2:
        return counts
    # edge i joins vertex i to i + 1 unless i + 1 starts the next ring
    edge = np.ones(nv - 1, dtype=bool)
    starts = offsets[1:-1]
    edge[starts[(starts > 0) & (starts < nv)] - 1] = False
    ex1, ey1 = xy[:-1, 0][edge], xy[:-1, 1][edge]
    ex2, ey2 = xy[1:, 0][edge], xy[1:, 1][edge]
    egrp = np.repeat(groups, np.diff(offsets))[:-1][edge]
    flip = ey1 > ey2
    ex1f = np.where(flip, ex2, ex1); ey1f = np.where(flip, ey2, ey1)
    ex2f = np.where(flip, ex1, ex2); ey2f = np.where(flip, ey1, ey2)
    nonh = ey1f != ey2f
    ex1f, ey1f, ex2f, ey2f = ex1f[nonh], ey1f[nonh], ex2f[nonh], ey2f[nonh]
    egrp = egrp[nonh]
    if len(ex1f) == 0:
        return counts

    slope = (ex2f - ex1f) / (ey2f - ey1f)
    esign = np.where(flip[nonh], -1, 1).astype(np.int64)

    r0 = np.maximum(np.ceil(ey1f - 0.5), 0).astype(np.int64)
    r1 = np.minimum(np.ceil(ey2f - 0.5) - 1, h - 1).astype(np.int64)
    cnt = np.maximum(r1 - r0 + 1, 0)
    total = int(cnt.sum())
    if total == 0:
        return counts
    eidx = np.repeat(np.arange(len(ex1f)), cnt)
    offs = np.arange(total) - np.repeat(np.cumsum(cnt) - cnt, cnt)
    rows = r0[eidx] + offs
    dys = rows + 0.5
    xs = ex1f[eidx] + (dys - ey1f[eidx]) * slope[eidx]

    # columns left of the frame act at column 0, right of it at column w
    col = np.clip(np.floor(xs + 0.5), 0, w).astype(np.int64)
    seg = egrp[eidx] * h + rows
    order = np.argsort(seg * (w + 1) + col, kind="stable")
    seg = seg[order]
    step = esign[eidx][order] if winding else np.ones(total, dtype=np.int64)
    first = np.flatnonzero(np.concatenate(([True], seg[1:] != seg[:-1])))
    run = np.cumsum(step)
    run -= np.repeat(run[first] - step[first], np.diff(np.append(first, total)))
    inside = (run != 0) if winding else (run & 1).astype(bool)
    # a segment closes at its last crossing (an open ring leaves a nonzero
    # sum, as in rasterize_rings), so each row's changes sum to zero and
    # the next segment's first change is measured against 0
    inside[first[1:] - 1] = False
    inside[-1] = False
    trans = np.diff(inside.view(np.int8), prepend=np.int8(0))
    nz = np.flatnonzero(trans)
    cell = (rows * w + col)[order[nz]]
    # int32 values keep np.add.at on its fast path (no casting loop)
    np.add.at(diff, cell, trans[nz].astype(np.int32))
    np.cumsum(diff, out=diff)
    return counts


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


# ---------------------------------------------------------------------------
# Buffered-polygon rasterization (contact/road masks): the GEOS-style raw
# offset curves (geom.offset_curves) filled with nonzero winding.
# ---------------------------------------------------------------------------


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
    curves of an image in one rasterize_count_packed call instead.

    With ``accumulate=True`` (and an integer ``out``), adds +1 to the
    buffered-union pixels in place — overlap counting with O(bbox) traffic
    per call instead of a full-frame bool + astype + add."""
    xy, offsets = G.offset_curves([r for r in rings if len(r) >= 4], radius)
    curves = np.split(xy, offsets[1:-1])
    if accumulate:
        return rasterize_rings(curves, shape, out=out, value=1,
                               winding=True, accumulate=True)
    m = rasterize_rings(curves, shape, winding=True)
    return m > 0


# ---------------------------------------------------------------------------
# Morphology — skimage erosion/dilation with square(n) strel
# (solaris/vector/mask.py:300-310). skimage delegates to scipy.ndimage with
# origin=0; for even n the window is asymmetric, and dilation mirrors the
# footprint, so erosion and dilation offset in opposite directions.
# ---------------------------------------------------------------------------


def erosion_square(a: np.ndarray, size: int) -> np.ndarray:
    """skimage.morphology.erosion(a, square(size)) for uint8 arrays.

    scipy grey_erosion window for origin=0: offsets -(size//2) .. (size-1)//2.
    Out-of-image treated as padded with the edge? ndimage grey_erosion uses
    reflect mode by default; calibrated against the reference goldens."""
    lo, hi = -(size // 2), (size - 1) // 2
    tmp = _minmax_reflect(a, lo, hi, 0, True)
    return _minmax_reflect(tmp, lo, hi, 1, True)


def dilation_square(a: np.ndarray, size: int) -> np.ndarray:
    """skimage dilation: window offsets -(size//2) .. (size-1)//2 mirrored →
    calibrated against sample_b_mask_outer_10.tif: offsets -((size-1)//2) .. size//2."""
    lo, hi = -((size - 1) // 2), size // 2
    tmp = _minmax_reflect(a, lo, hi, 0, False)
    return _minmax_reflect(tmp, lo, hi, 1, False)


def _minmax_reflect(a: np.ndarray, lo: int, hi: int, axis: int, is_min: bool) -> np.ndarray:
    """Sliding min/max with 'reflect' boundary (scipy ndimage default)."""
    pad_before, pad_after = max(0, -lo), max(0, hi)
    pads = [(0, 0)] * a.ndim
    pads[axis] = (pad_before, pad_after)
    # scipy.ndimage's default 'reflect' boundary == numpy's 'symmetric'
    # (edge value repeated): (d c b a | a b c d)
    ap = np.pad(a, pads, mode="symmetric")
    n = a.shape[axis]
    out = None
    for off in range(lo, hi + 1):
        idx = [slice(None)] * a.ndim
        idx[axis] = slice(pad_before + off, pad_before + off + n)
        view = ap[tuple(idx)]
        if out is None:
            out = view.copy()
        else:
            out = np.minimum(out, view) if is_min else np.maximum(out, view)
    return out


# ---------------------------------------------------------------------------
# Tile cutting — window read with boundless fill
# (solaris/tile/raster_tile.py:332-348)
# ---------------------------------------------------------------------------


def cut_window(src: np.ndarray, transform, bounds, tile_hw: tuple[int, int],
               fill_value: float = 0) -> tuple[np.ndarray, tuple]:
    """Cut tile `bounds` = (xmin, ymin, xmax, ymax) from (C, Y, X) `src` with
    geo `transform`; out-of-extent area filled with `fill_value`.

    Returns (tile (C, th, tw), tile_transform). Row/col window is derived the
    way rasterio from_bounds does: col = (x - c)/a, row = (y - f)/e, rounded
    to int (operator precision: the fixtures use exact multiples)."""
    a, b, c0, d, e, f0 = transform
    th, tw = tile_hw
    xmin, ymin, xmax, ymax = bounds
    col0 = int(round((xmin - c0) / a))
    row0 = int(round((ymax - f0) / e))  # e < 0 for north-up
    C, H, W = src.shape
    tile = np.full((C, th, tw), fill_value, dtype=src.dtype)
    r0, r1 = max(row0, 0), min(row0 + th, H)
    c0_, c1 = max(col0, 0), min(col0 + tw, W)
    if r1 > r0 and c1 > c0_:
        tile[:, r0 - row0 : r1 - row0, c0_ - col0 : c1 - col0] = src[:, r0:r1, c0_:c1]
    tile_transform = (a, b, c0 + col0 * a, d, e, f0 + row0 * e)
    return tile, tile_transform


def _cubic_kernel(t: np.ndarray, a: float = -0.5) -> np.ndarray:
    """Keys cubic-convolution kernel with a=-0.5 — the kernel GDAL's
    `Resampling.cubic` uses (gdalwarp GRA_Cubic; Keys 1981 eq. 15)."""
    u = np.abs(t)
    u2 = u * u
    u3 = u2 * u
    near = (a + 2.0) * u3 - (a + 3.0) * u2 + 1.0
    far = a * (u3 - 5.0 * u2 + 8.0 * u - 4.0)
    return np.where(u <= 1.0, near, np.where(u < 2.0, far, 0.0))


def warp(src: np.ndarray, src_transform, src_epsg: int,
         dst_transform, dst_epsg: int, out_shape: tuple[int, int],
         nodata: float = 0.0, resampling: str = "bilinear") -> np.ndarray:
    """Inverse-mapping reprojection (rasterio.warp.reproject —
    solaris/tile/raster_tile.py:350-387 path for dest_crs ≠ src_crs;
    solaris/utils/geo.py:26-66 `reproject(resampling_method=...)` exposes
    ['cubic' (default there), 'bilinear', 'nearest', 'average']).

    For each dest pixel center: dest geo → src CRS (4326/3857/UTM closed
    forms or pyproj when present, geom.to_wgs84/from_wgs84) → src pixel
    coords → sample.  Resampling methods:

    - ``nearest``  : floor(p + 0.5) pick; valid while the center lands
      inside the source extent.
    - ``bilinear`` : 2×2 weighted; valid while the center is inside the
      source pixel-center hull [0, W-1]×[0, H-1].
    - ``cubic``    : 4×4 Keys cubic convolution (a=-0.5, GDAL GRA_Cubic);
      same validity hull as bilinear, kernel support edge-replicated, and
      integer outputs clamped to the dtype range (cubic overshoots).

    Dest pixels outside the validity region get `nodata`."""
    from . import geom as G

    if resampling not in ("nearest", "bilinear", "cubic"):
        raise NotImplementedError(
            f"resampling={resampling!r}: supported here are 'nearest', "
            "'bilinear', 'cubic' (use resize_average for axis-aligned "
            "area-average decimation)")
    C, H, W = src.shape
    oh, ow = out_shape
    cols, rows = np.meshgrid(np.arange(ow) + 0.5, np.arange(oh) + 0.5)
    a, b, c, d, e, f = dst_transform
    gx = a * cols + b * rows + c
    gy = d * cols + e * rows + f
    if src_epsg != dst_epsg:
        lon, lat = G.to_wgs84(gx.ravel(), gy.ravel(), dst_epsg)
        sx, sy = G.from_wgs84(lon, lat, src_epsg)
        gx, gy = sx.reshape(oh, ow), sy.reshape(oh, ow)
    ia, ib, ic, id_, ie, if_ = G.affine_invert(src_transform)
    px = ia * gx + ib * gy + ic - 0.5   # src pixel-center coords
    py = id_ * gx + ie * gy + if_ - 0.5
    out = np.full((C, oh, ow), nodata, dtype=np.float64)

    if resampling == "nearest":
        xi = np.floor(px + 0.5).astype(np.int64)
        yi = np.floor(py + 0.5).astype(np.int64)
        valid = (xi >= 0) & (xi <= W - 1) & (yi >= 0) & (yi <= H - 1)
        xic = np.clip(xi, 0, W - 1)
        yic = np.clip(yi, 0, H - 1)
        for ch in range(C):
            out[ch] = np.where(valid, src[ch][yic, xic], nodata)
        return out.astype(src.dtype)

    x0 = np.floor(px).astype(np.int64)
    y0 = np.floor(py).astype(np.int64)
    fx = px - x0
    fy = py - y0
    valid = (x0 >= 0) & (x0 + 1 <= W - 1) & (y0 >= 0) & (y0 + 1 <= H - 1)

    if resampling == "bilinear":
        x0c = np.clip(x0, 0, W - 2)
        y0c = np.clip(y0, 0, H - 2)
        for ch in range(C):
            p00 = src[ch][y0c, x0c]
            p01 = src[ch][y0c, x0c + 1]
            p10 = src[ch][y0c + 1, x0c]
            p11 = src[ch][y0c + 1, x0c + 1]
            val = (p00 * (1 - fx) * (1 - fy) + p01 * fx * (1 - fy)
                   + p10 * (1 - fx) * fy + p11 * fx * fy)
            out[ch] = np.where(valid, val, nodata)
    else:  # cubic
        # weight for the sample at x0+m is K(fx - m), m ∈ {-1, 0, 1, 2}
        wx = [_cubic_kernel(fx - m) for m in (-1, 0, 1, 2)]
        wy = [_cubic_kernel(fy - m) for m in (-1, 0, 1, 2)]
        xs = [np.clip(x0 + m, 0, W - 1) for m in (-1, 0, 1, 2)]
        ys = [np.clip(y0 + m, 0, H - 1) for m in (-1, 0, 1, 2)]
        for ch in range(C):
            acc = np.zeros((oh, ow), dtype=np.float64)
            band = src[ch]
            for my in range(4):
                row_acc = np.zeros((oh, ow), dtype=np.float64)
                for mx in range(4):
                    row_acc += wx[mx] * band[ys[my], xs[mx]]
                acc += wy[my] * row_acc
            out[ch] = np.where(valid, acc, nodata)

    if np.issubdtype(src.dtype, np.integer):
        out = np.rint(out)
        info = np.iinfo(src.dtype)
        out = np.clip(out, info.min, info.max)
    return out.astype(src.dtype)


def warp_bilinear(src: np.ndarray, src_transform, src_epsg: int,
                  dst_transform, dst_epsg: int, out_shape: tuple[int, int],
                  nodata: float = 0.0) -> np.ndarray:
    """Back-compat alias: `warp(..., resampling='bilinear')`."""
    return warp(src, src_transform, src_epsg, dst_transform, dst_epsg,
                out_shape, nodata=nodata, resampling="bilinear")


def resize_average(src: np.ndarray, factor_y: int, factor_x: int) -> np.ndarray:
    """Area-average decimation by integer factors (GDAL `Resampling.average`
    for the axis-aligned downscale the reference's tiler uses when
    dest_res is a multiple of src res — raster_tile.py:94-97).  Exact block
    mean; trailing partial blocks average over the in-bounds pixels only.
    General warps with `average` are not supported (honest guard — GDAL
    area-weights arbitrary footprints there)."""
    if factor_y < 1 or factor_x < 1:
        raise ValueError("decimation factors must be >= 1")
    C, H, W = src.shape
    oh = -(-H // factor_y)
    ow = -(-W // factor_x)
    out = np.empty((C, oh, ow), dtype=np.float64)
    padded = np.full((C, oh * factor_y, ow * factor_x), np.nan)
    padded[:, :H, :W] = src
    blocks = padded.reshape(C, oh, factor_y, ow, factor_x)
    out = np.nanmean(blocks, axis=(2, 4))
    if np.issubdtype(src.dtype, np.integer):
        out = np.rint(out)
    return out.astype(src.dtype)


def nodata_fraction(tile: np.ndarray, nodata) -> float:
    """Fraction of pixels where ALL bands equal nodata —
    solaris/tile/raster_tile.py:195-196."""
    if nodata is None:
        return 0.0
    allnod = np.all(tile == nodata, axis=0)
    return float(allnod.mean())


# ---------------------------------------------------------------------------
# Image quality / identity kernels (BASELINE.json input_hint)
# ---------------------------------------------------------------------------


def psnr(a: np.ndarray, b: np.ndarray, max_val: float | None = None) -> float:
    a = a.astype(np.float64)
    b = b.astype(np.float64)
    mse = float(((a - b) ** 2).mean())
    if mse == 0.0:
        return float("inf")
    if max_val is None:
        max_val = 255.0 if a.max() <= 255 else 65535.0
    return 10.0 * np.log10(max_val * max_val / mse)


def _dct_matrix(n: int) -> np.ndarray:
    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    m = np.cos(np.pi * (2 * i + 1) * k / (2 * n)) * np.sqrt(2.0 / n)
    m[0] /= np.sqrt(2.0)
    return m


_DCT32 = _dct_matrix(32)


def phash64(img: np.ndarray) -> int:
    """64-bit perceptual hash: resize to 32×32 (area mean), 2D DCT-II, take
    the top-left 8×8 (skipping DC), threshold at the median. Deterministic;
    matches the classic pHash construction (public algorithm)."""
    if img.ndim == 3:  # (C, Y, X) → luminance-ish mean
        img = img.mean(axis=0)
    h, w = img.shape
    # area-mean resize to 32x32 via block averaging on a resampled grid
    ys = (np.arange(32 + 1) * h / 32).astype(np.int64)
    xs = (np.arange(32 + 1) * w / 32).astype(np.int64)
    ys[-1], xs[-1] = h, w
    csum = np.zeros((h + 1, w + 1), dtype=np.float64)
    csum[1:, 1:] = img.astype(np.float64).cumsum(0).cumsum(1)
    y0 = ys[:-1]
    y1 = np.maximum(ys[1:], y0 + 1)
    x0 = xs[:-1]
    x1 = np.maximum(xs[1:], x0 + 1)
    s = (csum[np.ix_(y1, x1)] - csum[np.ix_(y0, x1)]
         - csum[np.ix_(y1, x0)] + csum[np.ix_(y0, x0)])
    small = s / np.outer(y1 - y0, x1 - x0)
    dct = _DCT32 @ small @ _DCT32.T
    block = dct[:8, :8].copy()
    vals = block.flatten()[1:]  # skip DC
    med = np.median(vals)
    bits = (vals > med).astype(np.uint64)
    out = np.uint64(0)
    for bit in bits:
        out = np.uint64(out << np.uint64(1)) | np.uint64(bit)
    return int(out.astype(np.int64))  # store as signed int64 column


def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")
