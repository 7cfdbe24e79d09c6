"""Focused tests for the r6 optimization internals:

- rasterize_count_fields over packed rings (one batched scanline pass
  over many polygons, via oracles.count) must be bit-equivalent to a
  loop of the per-polygon lexsort rasterizer in tests/oracles.py —
  even-odd fills, holes, and winding offset curves alike, on fixed and
  on seeded random shapes — and the engine's
  rasterize_rings (the same crossings, summed over their bounding window)
  equal to the oracle's single-polygon fill;
- the custom worker daemon's setup_spark_files cache must re-invalidate
  import caches exactly when the Spark-files state changes;
- the daemon's GC shim must do a full unfreeze-collect sweep on schedule;
- plans.skew.ensure_parallelism must rebalance narrow scans and leave
  wide ones untouched.
"""

import io
import struct

import numpy as np
import pytest

from solaris_spark.functions import geom as G
from solaris_spark.functions import raster as R
from tests import oracles as O


def _rand_poly(rng, cx, cy, rad, k):
    angs = np.sort(rng.uniform(0, 2 * np.pi, size=k))
    rs = rad * rng.uniform(0.5, 1.0, size=k)
    xs = cx + rs * np.cos(angs)
    ys = cy + rs * np.sin(angs)
    ring = np.stack([xs, ys], axis=1)
    return np.vstack([ring, ring[:1]])


def _curves(ring_groups, radius):
    """Per polygon, the engine's offset curves of its rings of at least 4
    vertices, as the contact channel buffers them."""
    out = []
    for rings in ring_groups:
        xy, offsets, _ = O.pack([[r for r in rings if len(r) >= 4]])
        xy, offsets = G.offset_curves(xy, offsets, radius)
        out.append(np.split(xy, offsets[1:-1]) if len(offsets) > 1 else [])
    return out


class TestRasterizeCountGroups:
    def test_matches_per_polygon_loop_even_odd(self):
        rng = np.random.default_rng(7)
        shape = (240, 260)
        groups = []
        for _ in range(40):
            cx, cy = rng.uniform(0, 260), rng.uniform(0, 240)
            rings = [_rand_poly(rng, cx, cy, rng.uniform(4, 60),
                                int(rng.integers(3, 9)))]
            if rng.random() < 0.3:  # add a hole ring
                rings.append(_rand_poly(rng, cx, cy, 2.5, 4))
            groups.append([r for r in G.polygon_rings(
                G.wkt_dump("POLYGON", rings))])
        loop = np.zeros(shape, dtype=np.int32)
        for rings in groups:
            O.rasterize_rings(rings, shape, out=loop, value=1,
                              accumulate=True)
        batched = O.count(groups, shape)
        assert np.array_equal(loop, batched)

    def test_matches_per_polygon_loop_winding_curves(self):
        rng = np.random.default_rng(11)
        shape = (200, 220)
        ring_sets = []
        for _ in range(25):
            cx, cy = rng.uniform(0, 220), rng.uniform(0, 200)
            ring_sets.append(G.polygon_rings(G.wkt_dump(
                "POLYGON", [_rand_poly(rng, cx, cy, rng.uniform(3, 40),
                                       int(rng.integers(4, 8)))])))
        loop = np.zeros(shape, dtype=np.int32)
        for rings in ring_sets:
            O.rasterize_geos_buffer(rings, 5.0, shape, out=loop,
                                    accumulate=True)
        batched = O.count(_curves(ring_sets, 5.0), shape, winding=True)
        assert np.array_equal(loop, batched)

    @pytest.mark.parametrize("seed", range(40))
    def test_randomized_parity_with_per_polygon_oracles(self, seed):
        """Seeded shapes against the per-polygon kernels, under both fill
        rules and for GEOS-style buffers: off-frame and partly off-frame
        shapes, a self-crossing pentagram, a shape across each frame edge,
        vertices snapped to integers or half-integers (column ties,
        horizontal edges), axis-aligned boxes, holes, overlapping groups,
        and 1-row / 1-column frames.  Each group alone through the engine's
        rasterize_rings (the window finisher) equals the oracle's even-odd
        fill, with value 255 into uint8 on odd seeds."""
        rng = np.random.default_rng(1000 + seed)
        h, w = (int(v) for v in rng.integers(8, 90, size=2))
        if seed % 8 == 0:
            h = 1
        elif seed % 8 == 1:
            w = 1
        groups = []
        for _ in range(int(rng.integers(1, 25))):
            cx = rng.uniform(-30, w + 30)
            cy = rng.uniform(-30, h + 30)
            rad = rng.uniform(0.4, 40)
            if rng.random() < 0.2:  # axis-aligned box
                x0, y0 = cx - rad, cy - rad / 2
                ext = np.array([[x0, y0], [cx + rad, y0], [cx + rad, cy + rad],
                                [x0, cy + rad], [x0, y0]])
            else:
                ext = _rand_poly(rng, cx, cy, rad, int(rng.integers(3, 9)))
            rings = [ext]
            if rng.random() < 0.3:
                rings.append(_rand_poly(rng, cx, cy, rad / 3, 4)[::-1])
            snap = rng.integers(0, 3)
            if snap:  # 1: integer vertices, 2: half-integer vertices
                rings = [np.round(r * snap) / snap for r in rings]
            groups.append(rings)
        # a pentagram: even-odd leaves its centre empty, nonzero fills it
        ang = rng.uniform(0, 2 * np.pi) + np.arange(6) * 4 * np.pi / 5
        groups.append([np.c_[rng.uniform(0, w) + 30 * np.cos(ang),
                             rng.uniform(0, h) + 30 * np.sin(ang)]])
        for cx, cy in ((0, h / 2), (w, h / 2), (w / 2, 0), (w / 2, h)):
            # a diamond around a point of each frame edge
            dx0, dx1, dy0, dy1 = rng.uniform(0.3, 20, size=4)
            groups.append([np.array([[cx - dx0, cy], [cx, cy - dy0],
                                     [cx + dx1, cy], [cx, cy + dy1],
                                     [cx - dx0, cy]])])
        shape = (h, w)
        value = 255 if seed % 2 else int(rng.integers(1, 255))
        for rings in groups:
            got = R.rasterize_rings(rings, shape, value=value)
            assert got.dtype == np.uint8
            assert np.array_equal(got, O.rasterize_rings(rings, shape,
                                                         value=value))
        for winding in (False, True):
            loop = np.zeros(shape, dtype=np.int32)
            for rings in groups:
                O.rasterize_rings(rings, shape, out=loop, value=1,
                                  winding=winding, accumulate=True)
            assert np.array_equal(
                O.count(groups, shape, winding=winding),
                loop), f"seed {seed} winding={winding}"
        loop = np.zeros(shape, dtype=np.int32)
        for rings in groups:
            O.rasterize_geos_buffer(rings, 2.5, shape, out=loop,
                                    accumulate=True)
        assert np.array_equal(
            O.count(_curves(groups, 2.5), shape, winding=True), loop)

    def test_unclosed_rings_close_at_each_rows_last_crossing(self):
        """An open ring leaves an odd winding sum on some rows; coverage
        stops at the row's last crossing, as in the oracle, instead
        of running on into later rows or groups."""
        shape = (30, 40)
        box = np.array([[2.0, 2.0], [30.0, 2.0], [30.0, 20.0], [2.0, 20.0],
                        [2.0, 2.0]])
        hole = np.array([[8.0, 6.0], [8.0, 16.0], [24.0, 16.0], [24.0, 6.0],
                         [8.0, 6.0]])
        groups = [[np.array([[5.0, 3.0], [20.0, 8.0], [12.0, 25.0]])],
                  [box, hole],
                  [np.array([[25.0, 5.0], [38.0, 12.0], [27.0, 28.0]])]]
        loop = np.zeros(shape, dtype=np.int32)
        for rings in groups:
            O.rasterize_rings(rings, shape, out=loop, value=1,
                              winding=True, accumulate=True)
        assert np.array_equal(
            O.count(groups, shape, winding=True), loop)

    def test_empty_and_degenerate_groups(self):
        shape = (16, 16)
        assert O.count([], shape).sum() == 0
        assert O.count([[]], shape).sum() == 0
        # off-frame polygon contributes nothing
        far = [np.array([[100.0, 100.0], [110.0, 100.0], [110.0, 110.0],
                         [100.0, 100.0]])]
        assert O.count([far], shape).sum() == 0


class TestPydaemonInternals:
    def _stream(self, files_dir: str, includes: list[str]) -> io.BytesIO:
        buf = io.BytesIO()
        for s in (files_dir,):
            b = s.encode()
            buf.write(struct.pack("!i", len(b)) + b)
        buf.write(struct.pack("!i", len(includes)))
        for s in includes:
            b = s.encode()
            buf.write(struct.pack("!i", len(b)) + b)
        buf.seek(0)
        return buf

    def test_setup_spark_files_invalidate_only_on_change(self, tmp_path,
                                                         monkeypatch):
        from solaris_spark import pydaemon
        calls = []
        monkeypatch.setattr(pydaemon.importlib, "invalidate_caches",
                            lambda: calls.append(1))
        monkeypatch.setattr(pydaemon, "_last_files_state", None)
        d = str(tmp_path)
        pydaemon._setup_spark_files(self._stream(d, []))
        assert len(calls) == 1          # first task invalidates
        pydaemon._setup_spark_files(self._stream(d, []))
        assert len(calls) == 1          # unchanged state: skipped
        pydaemon._setup_spark_files(self._stream(d, ["extra.zip"]))
        assert len(calls) == 2          # include list changed: invalidated
        pydaemon._setup_spark_files(self._stream(d, ["extra.zip"]))
        assert len(calls) == 2

    def test_gc_shim_full_sweep_cadence(self, monkeypatch):
        from solaris_spark import pydaemon
        events = []
        monkeypatch.setattr(pydaemon.gc, "unfreeze",
                            lambda: events.append("unfreeze"))
        monkeypatch.setattr(pydaemon.gc, "freeze",
                            lambda: events.append("freeze"))
        monkeypatch.setattr(pydaemon.gc, "collect",
                            lambda gen=2: events.append("collect") or 0)
        shim = pydaemon._GcShim()
        for _ in range(pydaemon._FULL_GC_EVERY - 1):
            shim.collect()
        assert "unfreeze" not in events
        assert events.count("collect") == pydaemon._FULL_GC_EVERY - 1
        assert events.count("freeze") == pydaemon._FULL_GC_EVERY - 1
        events.clear()
        shim.collect()                  # task _FULL_GC_EVERY: full sweep
        assert events == ["unfreeze", "collect", "freeze"]

    def test_daemon_module_is_active_in_session(self, spark):
        assert spark.conf.get("spark.python.daemon.module") == \
            "solaris_spark.pydaemon"


class TestJpegAdviceFixes:
    def test_fill_bytes_before_markers_are_skipped(self):
        """T.81 B.1.1.2: any number of 0xFF padding bytes may precede a
        marker (ADVICE r5) — decode must be identical with them present."""
        from solaris_spark.functions.jpeg import decode_jpeg, encode_jpeg
        yy, xx = np.mgrid[0:48, 0:64]
        arr = np.stack([(100 + 50 * np.sin(yy / 9 + c)
                         + 40 * np.cos(xx / 7 - c)).clip(0, 255)
                        for c in range(3)]).astype(np.uint8)
        enc = encode_jpeg(arr, quality=85)
        base = decode_jpeg(enc)
        i = enc.index(b"\xff\xdb")
        for pad in (b"\xff", b"\xff\xff\xff"):
            assert np.array_equal(base, decode_jpeg(enc[:i] + pad + enc[i:]))


class TestEnsureParallelism:
    def test_rebalances_narrow_and_keeps_wide(self, spark):
        from solaris_spark.plans.skew import ensure_parallelism
        width = spark.sparkContext.defaultParallelism
        narrow = spark.range(0, 1000, 1, 1)
        out = ensure_parallelism(narrow)
        assert out.rdd.getNumPartitions() == width
        assert out.count() == 1000
        wide = spark.range(0, 1000, 1, width * 2)
        assert ensure_parallelism(wide) is wide

    def test_size_floor_skips_small_inputs(self, spark):
        from solaris_spark.plans.skew import ensure_parallelism
        narrow = spark.range(0, 1000, 1, 1)
        # tiny input under the floor: returned unchanged (no shuffle)
        assert ensure_parallelism(narrow, min_bytes=1 << 30) is narrow
        # floor met: rebalanced as usual
        out = ensure_parallelism(narrow, min_bytes=1)
        assert out.rdd.getNumPartitions() == \
            spark.sparkContext.defaultParallelism


if __name__ == "__main__":
    pytest.main([__file__, "-q"])
