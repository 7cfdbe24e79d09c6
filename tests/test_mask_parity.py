"""Fixture-free parity of the batched mask path.

``masks.build_mask_arrays`` (one packed parse, one count frame for every
channel) must be byte-equal to the same masks built label by label from
the single-polygon kernels in ``tests/oracles.py`` — the recipe of
``tests/test_kernels_raster.py::contact_mask``, which checks those kernels
against the reference goldens — and to ``oracles.build_mask_arrays``, the
kernel one channel at a time.  Labels come from ``synth.synth_labels_for``,
so these tests need no reference fixtures.
"""

import itertools
import math

import numpy as np
import pytest

from solaris_spark.functions import geom as G
from solaris_spark.functions import raster as R
from solaris_spark.operators import masks
from solaris_spark.sources import synth
from tests import oracles as O

CHANNELS = ["footprint", "boundary", "contact"]


def oracle_masks(wkts, shape, boundary_type="inner", boundary_width=3,
                 contact_spacing=10.0):
    ring_sets = [G.polygon_rings(w) for w in wkts]
    fp = O.rasterize_shapes([(rings, 255) for rings in ring_sets], shape)
    morph = R.dilation_square if boundary_type == "outer" else R.erosion_square
    b = ((morph(fp, boundary_width) ^ fp) > 0).astype(np.uint8) * 255
    cnt = np.zeros(shape, dtype=np.int32)
    for rings in ring_sets:
        cnt += O.rasterize_geos_buffer(rings, contact_spacing / 2.0,
                                       shape).astype(np.int32)
    c = ((cnt >= 2) & (fp == 0)).astype(np.uint8) * 255
    return np.stack([fp, b, c], axis=-1)


def _dist_to_segment(p, a, b):
    (px, py), (ax, ay), (bx, by) = p, a, b
    t = ((px - ax) * (bx - ax) + (py - ay) * (by - ay)) / \
        ((bx - ax) ** 2 + (by - ay) ** 2)
    t = min(max(t, 0.0), 1.0)
    return math.hypot(px - (ax + t * (bx - ax)), py - (ay + t * (by - ay)))


@pytest.mark.parametrize("seed", range(6))
def test_build_mask_arrays_matches_single_polygon_oracles(seed):
    rng = np.random.default_rng(seed)
    h, w = (int(v) for v in rng.integers(60, 240, size=2))
    wkts = synth.synth_labels_for(seed, f"img_{seed:04d}", w, h, 20, 60)
    boundary_type = "outer" if seed % 2 else "inner"
    spacing = (10.0, 15.0)[seed % 3 == 0]
    got = masks.build_mask_arrays(wkts, (h, w), CHANNELS,
                                  boundary_type=boundary_type,
                                  contact_spacing=spacing)
    want = oracle_masks(wkts, (h, w), boundary_type=boundary_type,
                        contact_spacing=spacing)
    assert got.dtype == want.dtype and got.shape == want.shape
    assert got.tobytes() == want.tobytes()


class TestCollapsedLabel:
    def test_point_ring_offset_curve_is_geos_circle(self):
        """A ring whose vertices all coincide buffers like GEOS/JTS
        createCircle: clockwise from (x + r, y), 4·quad_segs vertices."""
        curve, _ = G.offset_curves(np.full((4, 2), 5.0), np.array([0, 4]),
                                   3.0)
        assert curve.shape == (65, 2)
        assert tuple(curve[0]) == (8.0, 5.0) and tuple(curve[-1]) == (8.0, 5.0)
        assert np.allclose(np.hypot(curve[:, 0] - 5, curve[:, 1] - 5), 3.0)
        assert curve[1, 1] < 5.0        # first step is clockwise (y down)

    def test_two_point_ring_with_repeats_is_a_capsule(self):
        """Repeated vertices are dropped first, as GEOS does, so a ring
        that doubles back over two distinct points buffers to a capsule."""
        ring = np.array([[5.0, 5.0], [5.0, 5.0], [9.0, 5.0], [9.0, 5.0],
                         [5.0, 5.0]])
        curve, _ = G.offset_curves(ring, np.array([0, len(ring)]), 2.0)
        d = np.array([_dist_to_segment(p, (5.0, 5.0), (9.0, 5.0))
                      for p in curve])
        assert np.allclose(d, 2.0)
        assert curve[:, 0].min() < 3.01 and curve[:, 0].max() > 10.99

    def test_collapsed_label_next_to_real_one(self):
        point = "POLYGON ((12 10, 12 10, 12 10, 12 10))"
        box = "POLYGON ((15 4, 30 4, 30 16, 15 16, 15 4))"
        shape, spacing = (24, 36), 10.0
        out = masks.build_mask_arrays([point, box], shape, CHANNELS,
                                      contact_spacing=spacing)
        want = oracle_masks([point, box], shape, contact_spacing=spacing)
        assert out.tobytes() == want.tobytes()
        contact = out[..., 2] > 0
        assert contact.any()
        # contact = the collapsed label's disc ∩ the box's buffer, minus
        # footprints; the disc's chords lie inside the true circle
        disc = O.rasterize_geos_buffer(G.polygon_rings(point), spacing / 2,
                                       shape)
        box_buf = O.rasterize_geos_buffer(G.polygon_rings(box), spacing / 2,
                                          shape)
        assert np.array_equal(contact, disc & box_buf & (out[..., 0] == 0))
        rows, cols = np.nonzero(contact)
        assert (np.hypot(cols + 0.5 - 12, rows + 0.5 - 10)
                <= spacing / 2).all()



# every subset in every order, and five channels: more output bytes a
# pixel than the int32 count frame the output otherwise reuses
SUBSETS = [list(p) for r in (1, 2, 3)
           for p in itertools.permutations(CHANNELS, r)] + \
    [["contact", "footprint", "boundary", "footprint", "contact"]]


def assert_same_as_oracle(wkts, shape, channels, **kw):
    got = masks.build_mask_arrays(wkts, shape, channels, **kw)
    want = O.build_mask_arrays(wkts, shape, channels, **kw)
    assert got.dtype == want.dtype and got.shape == want.shape
    assert got.tobytes() == want.tobytes()
    return got


@pytest.mark.parametrize("boundary_type", ["inner", "outer"])
@pytest.mark.parametrize("seed", [3, 7, 101])
def test_matches_channel_at_a_time_oracle(seed, boundary_type):
    wkts = synth.synth_labels_for(seed, f"img_{seed:04d}", 400, 300, 60, 120)
    got = assert_same_as_oracle(wkts, (300, 400), CHANNELS,
                                boundary_type=boundary_type,
                                boundary_width=2 + seed % 3)
    assert all(got[..., k].any() for k in range(3))


@pytest.mark.parametrize("channels", SUBSETS, ids="-".join)
def test_every_channel_subset_and_order(channels):
    wkts = synth.synth_labels_for(5, "img_0005", 160, 120, 20, 40)
    assert_same_as_oracle(wkts, (120, 160), channels,
                          boundary_type="outer", burn_value=200)


def test_rotated_affine_transform():
    """Labels in CRS coordinates under a rotated (b, d != 0) affine."""
    t = (0.31, 0.05, 552000.25, 0.04, -0.29, 4182000.75)
    wkts = [G.transform_wkt(w, t) for w in
            synth.synth_labels_for(9, "img_0009", 240, 200, 30, 50)]
    got = assert_same_as_oracle(wkts, (200, 240), CHANNELS, transform=t)
    assert got[..., 0].any() and got[..., 2].any()


def test_no_labels():
    got = assert_same_as_oracle([], (7, 9), ["contact", "footprint"])
    assert got.shape == (7, 9, 2) and not got.any()


def test_mixed_wkt_kinds():
    """EMPTY, Z, a hole and a label too small to buffer in one image."""
    wkts = ["POLYGON EMPTY",
            "POLYGON Z ((2 2 5, 12 2 5, 12 12 5, 2 12 5, 2 2 5))",
            "multipolygon (((14 3, 24 3, 24 13, 14 13, 14 3), "
            "(16 5, 16 9, 20 9, 20 5, 16 5)))",
            "POLYGON ((3 15, 9 15, 6 19, 3 15))",
            "POLYGON ((30 30, 30 30, 30 30))"]
    assert_same_as_oracle(wkts, (24, 32), CHANNELS)


def test_more_labels_than_a_16_bit_field():
    """Past 2^15 labels the two counts need 32-bit fields: 2^16 + 1
    overlapping squares count past 16 bits in both."""
    n = 2 ** 16 + 1
    wkts = [f"POLYGON (({1 + (i % 3) / 4} 1, 4 1, 4 4, 1 4, "
            f"{1 + (i % 3) / 4} 1))" for i in range(n)]
    got = assert_same_as_oracle(wkts, (6, 7), CHANNELS)
    assert got[..., 0].any() and got[..., 2].any()


@pytest.mark.parametrize("n", [1, 2 ** 15 - 1, 2 ** 15, 2 ** 16 + 1])
def test_count_fields_width(n):
    """rasterize_count_fields keeps int32 16-bit fields while n groups fit
    below the top field's sign bit, int64 32-bit fields past that."""
    xy, offsets, groups = G.pack_polygons(["POLYGON ((1 1, 3 1, 3 3, 1 1))"])
    xy = np.tile(xy, (n, 1))
    offsets = np.arange(n + 1) * 4
    groups = np.arange(n)
    frame, bits = R.rasterize_count_fields(
        [(xy, offsets, groups, False), (xy, offsets, groups, True)], n,
        (4, 4))
    wide = n >= 2 ** 15
    assert frame.dtype == (np.int64 if wide else np.int32)
    assert bits == (32 if wide else 16)
    counts, one_bits = R.rasterize_count_fields(
        [(xy, offsets, groups, False)], n, (4, 4))
    assert counts.dtype == np.int32 and one_bits == 32
    assert counts.max() == n
    assert np.array_equal(frame, counts.astype(frame.dtype) * (1 + (1 << bits)))
