"""geom.pack_polygons (one packed parse of many WKTs) against
oracles.polygon_rings, one WKT and one ring at a time: the same rings in
the same order, each ring's bytes equal (values and orientation), the
same error for bad input."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from solaris_spark.functions import geom as G
from solaris_spark.sources import synth
from tests import oracles as O

# doubled paths walked from their second vertex: zero exact area, so a
# shoelace sum is rounding noise whose sign depends on the summation
# order: the sequential sum gives +5.8e-11 (-5.8e-11 for SPIKE_B), a
# pairwise .sum() 0.0 and BLAS ddot -4.7e-10 (+4.7e-10) on the host
# these were found on.  The batched orientation must follow the one
# sequential sum the oracle's ring_signed_area takes per ring
SPIKE_A = ("(516505.76587029273 26364.50684372308, "
           "515434.26525744074 25595.315339400513, "
           "515787.5103708052 26379.48115611845, "
           "514983.026135233 25981.458915469262, "
           "516130.7512067541 24574.177254383183, "
           "516340.4442585096 24549.429983203285, "
           "516130.7512067541 24574.177254383183, "
           "514983.026135233 25981.458915469262, "
           "515787.5103708052 26379.48115611845, "
           "515434.26525744074 25595.315339400513, "
           "516505.76587029273 26364.50684372308, "
           "515861.9805604718 24982.192363434748, "
           "516505.76587029273 26364.50684372308)")
SPIKE_B = ("(614558.1006757849 -728114.4508344465, "
           "614041.6404699715 -729213.6819777527, "
           "613833.548106099 -729284.4293979694, "
           "613443.872530988 -728896.3816183822, "
           "613991.9452227099 -729574.6391774537, "
           "614753.5495192269 -728120.4494977355, "
           "613991.9452227099 -729574.6391774537, "
           "613443.872530988 -728896.3816183822, "
           "613833.548106099 -729284.4293979694, "
           "614041.6404699715 -729213.6819777527, "
           "614558.1006757849 -728114.4508344465, "
           "613867.8299593544 -729751.1495727657, "
           "614558.1006757849 -728114.4508344465)")
BOX = "(613000 -730000, 615000 -730000, 615000 -728000, 613000 -728000, " \
      "613000 -730000)"

EXPLICIT = {
    "polygon_empty": "POLYGON EMPTY",
    "multipolygon_empty": "MULTIPOLYGON EMPTY",
    "lowercase": "polygon ((0 0, 0 4, 4 4, 4 0, 0 0))",
    "mixed_case_multi": "MultiPolygon (((0 0, 4 0, 4 4, 0 0)), "
                        "((10 10, 10 14, 14 14, 10 10)))",
    "unclosed_parens": "POLYGON((",
    "exponents": "POLYGON ((1e2 -2.5E-3, 3.0e+1 4, -7.25e-1 1E1, "
                 "1e2 -2.5E-3))",
    "newlines": "POLYGON\n(\n(0 0,\n 0 5,\r\n 5 5,\t5 0,\n0 0)\n)\n",
    "tight": "POLYGON((0 0,5 0,5 5,0 0),(1 1,2 1,2 2,1 1))",
    "z_tagged": "POLYGON Z ((0 0 1, 4 0 2, 4 4 3, 0 0 1))",
    "z_untagged": "POLYGON ((0 0 1, 0 4 2, 4 4 3, 0 0 1))",
    "z_multi": "MULTIPOLYGON Z (((0 0 9, 0 4 9, 4 4 9, 0 0 9)))",
    "one_vertex": "POLYGON ((3 4))",
    "nan_inf": "POLYGON ((nan 0, 1 inf, -inf 2, nan 0))",
    "spike_exterior": f"POLYGON ({SPIKE_A})",
    "spike_hole": f"POLYGON ({BOX}, {SPIKE_B})",
    "spike_multi": f"MULTIPOLYGON (({SPIKE_B}), ({BOX}, {SPIKE_B}))",
}

BAD = {
    "linestring": "LINESTRING (0 0, 1 1)",
    "point": "POINT (1 2)",
    "not_wkt": "12 34",
    "bad_token": "POLYGON ((0 0, 1 x, 1 1, 0 0))",
    "short_vertex": "POLYGON ((0 0, 1, 1 1, 0 0))",
    "empty_ring": "POLYGON (())",
    "unknown_type": "CIRCLE ((0 0, 1 1))",
}


def reference(wkts):
    """oracles.polygon_rings one WKT at a time: (rings, WKT index per
    ring)."""
    rings, groups = [], []
    for i, w in enumerate(wkts):
        for r in O.polygon_rings(w):
            rings.append(r)
            groups.append(i)
    return rings, groups


def assert_packed_equal(wkts):
    xy, offsets, groups = G.pack_polygons(wkts)
    rings, want_groups = reference(wkts)
    assert xy.dtype == np.float64 and xy.shape == (offsets[-1], 2)
    assert offsets.dtype == groups.dtype == np.int64
    assert len(offsets) == len(rings) + 1 and offsets[0] == 0
    assert groups.tolist() == want_groups
    for k, ring in enumerate(rings):
        got = xy[offsets[k]:offsets[k + 1]]
        assert got.shape == ring.shape and got.tobytes() == ring.tobytes(), k


def _fmt(v: float, style: int) -> str:
    return (repr(v), f"{v:.2f}", f"{v:.6e}", str(int(v)))[style]


@st.composite
def rings(draw, cx, cy, radius):
    """A closed star-shaped ring about (cx, cy), wound either way."""
    n = draw(st.integers(min_value=1, max_value=9))
    seed = draw(st.integers(min_value=0, max_value=2 ** 32 - 1))
    rng = np.random.default_rng(seed)
    ang = np.sort(rng.uniform(0.0, 2 * np.pi, n))
    rad = rng.uniform(0.2, 1.0, n) * radius
    pts = np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], axis=1)
    if draw(st.booleans()):
        pts = pts[::-1]
    return np.vstack([pts, pts[:1]])


@st.composite
def polygon_bodies(draw):
    cx = draw(st.floats(-1e6, 1e6))
    cy = draw(st.floats(-1e6, 1e6))
    radius = draw(st.floats(1.0, 500.0))
    outer = draw(rings(cx, cy, radius))
    holes = draw(st.lists(rings(cx, cy, radius / 8), max_size=3))
    style = draw(st.integers(0, 3))
    return "(" + ", ".join(
        "(" + ", ".join(f"{_fmt(x, style)} {_fmt(y, style)}" for x, y in r)
        + ")" for r in [outer, *holes]) + ")"


@st.composite
def polygonal_wkts(draw):
    bodies = draw(st.lists(polygon_bodies(), min_size=1, max_size=3))
    if len(bodies) == 1 and draw(st.booleans()):
        return "POLYGON " + bodies[0]
    return "MULTIPOLYGON (" + ", ".join(bodies) + ")"


@settings(max_examples=200, deadline=None)
@given(st.lists(polygonal_wkts(), max_size=6))
def test_random_polygons_and_multipolygons(wkts):
    assert_packed_equal(wkts)


@pytest.mark.parametrize("name", sorted(EXPLICIT))
def test_explicit_text(name):
    assert_packed_equal([EXPLICIT[name]])


def test_all_explicit_texts_in_one_call():
    """Fast-path and polygon_rings WKTs interleaved keep WKT order."""
    wkts = [EXPLICIT[k] for k in sorted(EXPLICIT)]
    assert_packed_equal(wkts + wkts[::-1])


def test_synth_labels():
    wkts = synth.synth_labels_for(3, "img_0003", 1000, 1000, 150, 250)
    assert_packed_equal(wkts)


def test_no_wkts():
    xy, offsets, groups = G.pack_polygons([])
    assert xy.shape == (0, 2) and offsets.tolist() == [0]
    assert groups.tolist() == []


def _error(fn):
    with pytest.raises(Exception) as info:
        fn()
    return type(info.value), str(info.value)


@pytest.mark.parametrize("name", sorted(BAD))
def test_bad_text_raises_like_polygon_rings(name):
    good = EXPLICIT["lowercase"]
    for wkts in ([BAD[name]], [good, BAD[name], good]):
        assert _error(lambda: G.pack_polygons(wkts)) == \
            _error(lambda: reference(wkts))


def test_first_bad_wkt_raises_first():
    """A bad token (raised by the batched float parse) ahead of a
    LINESTRING (raised by polygon_rings) is still the error raised."""
    wkts = [EXPLICIT["lowercase"], BAD["bad_token"], BAD["linestring"]]
    err = _error(lambda: G.pack_polygons(wkts))
    assert err == _error(lambda: reference(wkts))
    assert err[1] == "could not convert string to float: 'x'"


def test_none_and_empty_string_are_empty():
    """None and "" have no rings, like an EMPTY geometry, wherever they
    sit in the batch."""
    good = EXPLICIT["spike_multi"]
    xy, offsets, groups = G.pack_polygons([None, "", good, None, ""])
    want = G.pack_polygons([good])
    assert xy.tobytes() == want[0].tobytes()
    assert offsets.tolist() == want[1].tolist()
    assert groups.tolist() == [2] * len(want[2])
    assert G.polygon_rings(None) == G.polygon_rings("") == []
