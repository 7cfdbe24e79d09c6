"""geom.offset_curves (one NumPy pass over many packed rings) against the
sequential per-vertex recipe it replaced, kept as the oracle in
tests/oracles.py: every curve must be bit-identical, vertex for vertex."""

import numpy as np
import pytest

from solaris_spark.functions import geom as G
from solaris_spark.sources import synth
from tests.oracles import oracle_line_curve, oracle_ring_curve, pack


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
    xy, offsets = G.offset_curves(*pack([rings])[:2], radius)
    assert len(offsets) == len(rings) + 1 and offsets[-1] == len(xy)
    for k, ring in enumerate(rings):
        _assert_same(xy[offsets[k]:offsets[k + 1]],
                     oracle_ring_curve(ring, radius),
                     f"seed {seed} ring {k}")


@pytest.mark.parametrize("seed", range(40))
def test_line_offset_curve_bit_identical_to_oracle(seed):
    """geom.doubled_paths + offset_curves, the road-mask buffer: doubled-
    path rings have zero signed area, so their orientation comes from
    ring_signed_area's own rounding; both ends are π caps.  The line is
    packed next to its first vertex alone and a copy of itself."""
    rng = np.random.default_rng(9000 + seed)
    m = int(rng.integers(1, 7))
    line = rng.uniform(-1e3, 1e3, 2) + np.cumsum(
        rng.uniform(-10, 10, (m, 2)), axis=0)
    if seed % 3 == 0:
        line = np.round(line)
    if seed % 5 == 0 and m > 2:
        line[-1] = line[0]   # closed linestring
    radius = float(rng.uniform(0.5, 8))
    lines = [line, line[:1], line]
    xy, offsets = G.offset_curves(*G.doubled_paths(*pack([lines])[:2]),
                                  radius)
    assert len(offsets) == len(lines) + 1
    for k, ln in enumerate(lines):
        _assert_same(xy[offsets[k]:offsets[k + 1]],
                     oracle_line_curve(ln, radius), f"seed {seed} line {k}")


@pytest.mark.parametrize("seed", [101, 102])
def test_synth_labels_bit_identical_to_oracle(seed):
    """The contact-mask input: every ring of an image's labels at once."""
    wkts = synth.synth_labels_for(seed, f"img{seed}", 1000, 1000, 200, 200)
    rings = [r for w in wkts for r in G.polygon_rings(w) if len(r) >= 4]
    xy, offsets = G.offset_curves(*pack([rings])[:2], 5.0)
    for k, ring in enumerate(rings):
        _assert_same(xy[offsets[k]:offsets[k + 1]],
                     oracle_ring_curve(ring, 5.0), f"ring {k}")


def test_spike_takes_the_pi_cap():
    """A spike's tip is an exact reversal: a half circle of 2·quad_segs
    segments around the tip."""
    ring = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [10.0, 20.0],
                     [10.0, 10.0], [0.0, 10.0], [0.0, 0.0]])
    curve, _ = G.offset_curves(ring, np.array([0, len(ring)]), 1.0)
    _assert_same(curve, oracle_ring_curve(ring, 1.0), "spike")
    near_tip = np.hypot(curve[:, 0] - 10.0, curve[:, 1] - 20.0)
    assert np.sum(np.isclose(near_tip, 1.0)) >= 2 * 16 + 1


def test_no_rings():
    xy, offsets = G.offset_curves(*pack([])[:2], 3.0)
    assert xy.shape == (0, 2) and offsets.tolist() == [0]
