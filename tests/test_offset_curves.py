"""geom.offset_curves (one NumPy pass over many rings) against the
sequential per-vertex recipe it replaced, kept here as the oracle: every
curve must be bit-identical, vertex for vertex."""

import math

import numpy as np
import pytest

from solaris_spark.functions import geom as G
from solaris_spark.sources import synth


def oracle_offset_curve(ring: np.ndarray, radius: float,
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
        return oracle_offset_curve(np.vstack([kept, kept[:1]]), radius,
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
    pts = np.asarray(coords, dtype=np.float64)
    if len(pts) >= 2 and np.array_equal(pts[0], pts[-1]):
        pts = pts[:-1]
    return oracle_offset_curve(np.vstack([pts, pts[-2:0:-1], pts[:1]]),
                               radius)


def _star(rng, m):
    cx, cy = rng.uniform(-50, 50, 2) * 10.0 ** int(rng.integers(0, 6))
    rad = rng.uniform(0.5, 30)
    ang = np.sort(rng.uniform(0, 2 * np.pi, m))
    ring = np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], 1)
    return np.round(ring) if rng.random() < 0.3 else ring


def _random_ring(rng) -> np.ndarray:
    """CCW or CW, with repeated or collapsed vertices, spikes (π caps),
    axis-aligned boxes; closed or open."""
    kind = int(rng.integers(0, 6))
    m = int(rng.integers(3, 12))
    ring = _star(rng, m)
    if kind == 1:    # clockwise
        ring = ring[::-1]
    elif kind == 2:  # repeated vertices
        ring = ring[np.sort(rng.integers(0, m, m + 3))]
    elif kind == 3:  # collapsed to one point, 1-4 copies
        ring = np.repeat(ring[:1], int(rng.integers(1, 5)), axis=0)
    elif kind == 4:  # a spike out and straight back along the same line
        i = int(rng.integers(0, m))
        tip = ring[i] + rng.uniform(-20, 20, 2)
        ring = np.vstack([ring[:i + 1], tip[None], ring[i:]])
    elif kind == 5:  # axis-aligned box
        (x0, y0), (w, h) = ring[0], rng.uniform(0.5, 20, 2)
        ring = np.array([[x0, y0], [x0 + w, y0], [x0 + w, y0 + h],
                         [x0, y0 + h]])
    if rng.random() < 0.7 or len(ring) < 2:
        ring = np.vstack([ring, ring[:1]])
    return ring


def _assert_same(got: np.ndarray, want: np.ndarray, what: str) -> None:
    assert got.shape == want.shape, what
    assert got.tobytes() == want.tobytes(), what


@pytest.mark.parametrize("seed", range(60))
def test_batched_rings_bit_identical_to_oracle(seed):
    rng = np.random.default_rng(7000 + seed)
    rings = [_random_ring(rng) for _ in range(int(rng.integers(1, 12)))]
    if rng.random() < 0.3:  # a polygon with a hole (CW inner ring)
        outer = np.vstack([_star(rng, 8)] * 2)[:9]
        c = outer[:8].mean(0)
        rings += [outer, (c + 0.3 * (outer - c))[::-1]]
    radius = float(rng.uniform(0.5, 10))
    xy, offsets = G.offset_curves(rings, radius)
    assert len(offsets) == len(rings) + 1 and offsets[-1] == len(xy)
    for k, ring in enumerate(rings):
        _assert_same(xy[offsets[k]:offsets[k + 1]],
                     oracle_offset_curve(ring, radius),
                     f"seed {seed} ring {k}")


@pytest.mark.parametrize("seed", range(40))
def test_line_offset_curve_bit_identical_to_oracle(seed):
    """Doubled-path rings have zero signed area: their orientation comes
    from ring_signed_area's own rounding, both ends are π caps."""
    rng = np.random.default_rng(9000 + seed)
    m = int(rng.integers(1, 7))
    line = rng.uniform(-1e3, 1e3, 2) + np.cumsum(
        rng.uniform(-10, 10, (m, 2)), axis=0)
    if seed % 3 == 0:
        line = np.round(line)
    if seed % 5 == 0 and m > 2:
        line[-1] = line[0]   # closed linestring
    radius = float(rng.uniform(0.5, 8))
    _assert_same(G.line_offset_curve(line, radius),
                 oracle_line_curve(line, radius), f"seed {seed}")


@pytest.mark.parametrize("seed", [101, 102])
def test_synth_labels_bit_identical_to_oracle(seed):
    """The contact-mask input: every ring of an image's labels at once."""
    wkts = synth.synth_labels_for(seed, f"img{seed}", 1000, 1000, 200, 200)
    rings = [r for w in wkts for r in G.polygon_rings(w) if len(r) >= 4]
    xy, offsets = G.offset_curves(rings, 5.0)
    for k, ring in enumerate(rings):
        _assert_same(xy[offsets[k]:offsets[k + 1]],
                     oracle_offset_curve(ring, 5.0), f"ring {k}")


def test_spike_takes_the_pi_cap():
    """A spike's tip is an exact reversal: a half circle of 2·quad_segs
    segments around the tip."""
    ring = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [10.0, 20.0],
                     [10.0, 10.0], [0.0, 10.0], [0.0, 0.0]])
    curve = G.offset_curve(ring, 1.0)
    _assert_same(curve, oracle_offset_curve(ring, 1.0), "spike")
    near_tip = np.hypot(curve[:, 0] - 10.0, curve[:, 1] - 20.0)
    assert np.sum(np.isclose(near_tip, 1.0)) >= 2 * 16 + 1


def test_no_rings():
    xy, offsets = G.offset_curves([], 3.0)
    assert xy.shape == (0, 2) and offsets.tolist() == [0]
