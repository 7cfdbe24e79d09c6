"""Bit pins of the evaluation and clip outputs, without reference fixtures.

Every greedy, SCOT and golden-mask test that would catch a moved bit in
the polygon kernels opens a reference fixture.  These hashes, recorded
before the polygon batches were packed, pin the same values on seeded
synthetic inputs:

- ``polygon_sets`` (areas, bboxes) and the per-pair oracle's
  ``(inter, iou)`` (``oracles.overlap``, the engine's one
  intersection-area kernel one pair at a time) of every GT × proposal
  pair, bbox-disjoint ones included, over three label_eval-shaped groups:
  synth labels, jittered proposals and false positives, with holes,
  multipolygons, clockwise exteriors, None / ``""`` / EMPTY rows, and one
  group at UTM-sized coordinates;
- ``vector_tiles``' clip outputs (``wkt_geo``, ``origarea``,
  ``clip_area``) over a seeded synth image's labels in UTM coordinates;
- the rows of the three matching joins over the same kind of groups:
  ``evalops._greedy_match_group`` at two ``miniou``/``min_area``
  settings, ``scot.match_footprints_np`` and ``scot.scot_one_aoi_np`` over
  two timesteps, and ``evalops.class_matched_ious`` through Spark.  These
  hashes were recorded before the joins shared one batched pair kernel,
  so a changed claim order, tie-break or candidate rule shows here.

The area, IoU and clip-area hashes were re-recorded once, when every ring
area became the one sequential shoelace sum: the earlier ones held the
BLAS ``ddot`` sum of the host they were recorded on, and failed under
another OpenBLAS kernel.  Now they hold on every host
(``test_host_independence.py`` hashes the same areas under four kernels).
"""

import hashlib
from collections import namedtuple

import numpy as np
import pytest

from solaris_spark.functions import geom as G
from solaris_spark.operators import evalops, scot
from solaris_spark.sources import synth
from tests import oracles as O

OVERLAP_SHA256 = {
    0: "052b0643997cfe528053cfdec003c9138e336540889a48283b0fdbacc8541c55",
    1: "5e00bc12dfdc79fadd0cade8887bce7196bad4a9be20db7f5c8b19423e7d830e",
    2: "9c6aa472d7dfb633567fca2bc96c887863cbe9d358676a4bd7ecef835af6908a",
}
GREEDY_SHA256 = \
    "e47f0580bdf74538e36a803e8d9275ccbd5b5228b4fa237ab084f5fd05322e34"
SCOT_SHA256 = \
    "7778df54d6db109d881e51e904e69955a8deabc6743ccbf3c667d4211a68dff8"
CLASS_SHA256 = \
    "9bd1c5d46cda9c8217b6398e99f0b8c5092e0210f08aa1b0fbc8bda1e4234a7d"
CLIP_SHA256 = \
    "a704faedca71eb33b1355b1e0b7a307bb8ebd80ae86d03557af543b6723ea759"


def _odd_shapes(rng, w, h, n):
    """Polygons with a hole, multipolygons (one part with a hole) and
    clockwise exteriors, in pixel coords (2 dp)."""
    out = []
    for k in range(n):
        cx, cy = rng.uniform(20, w - 20), rng.uniform(20, h - 20)
        rad = rng.uniform(8, 40)
        ang = np.sort(rng.uniform(0, 2 * np.pi, int(rng.integers(5, 9))))
        ext = np.c_[cx + rad * np.cos(ang), cy + rad * np.sin(ang)]
        ext = np.round(np.vstack([ext, ext[:1]]), 2)
        hole = np.round(np.array([[cx - 2, cy - 2], [cx - 2, cy + 2],
                                  [cx + 2, cy + 2], [cx + 2, cy - 2],
                                  [cx - 2, cy - 2]]), 2)
        if k % 3 == 0:
            out.append(G.wkt_dump("POLYGON", [ext, hole]))
        elif k % 3 == 1:
            far = ext + np.round(rng.uniform(-60, 60, 2), 2)
            out.append(G.wkt_dump("MULTIPOLYGON", [[ext, hole], [far]]))
        else:
            out.append(G.wkt_dump("POLYGON", [ext[::-1]]))
    return out


def _jittered(rng, wkts):
    """label_eval's proposals: each polygon shifted by at most 15 % of its
    bbox size, a tenth dropped."""
    out = []
    for w in wkts:
        if not w or rng.random() < 0.1:
            continue
        gtype, parts = G.wkt_parse(w)
        if not parts:
            continue
        polys = parts if gtype == "MULTIPOLYGON" else [parts]
        pts = np.vstack([r for p in polys for r in p])
        d = rng.uniform(-0.15, 0.15, 2) * (pts.max(0) - pts.min(0))
        out.append(G.wkt_dump(gtype, [[np.round(r + d, 2) for r in p]
                                      for p in polys]
                              if gtype == "MULTIPOLYGON"
                              else [np.round(r + d, 2) for r in parts]))
    return out


def _eval_group(seed):
    rng = np.random.default_rng(seed)
    gt = synth.synth_labels_for(seed, f"eval_{seed}", 500, 500, 20, 20)
    gt += _odd_shapes(rng, 500, 500, 6)
    pred = _jittered(rng, gt)
    pred += synth.synth_labels_for(seed + 7919, f"eval_{seed}", 500, 500,
                                   3, 3)
    gt += [None, "", "POLYGON EMPTY"]
    pred.insert(2, "MULTIPOLYGON EMPTY")
    if seed == 2:  # geo-sized coordinates: the shared frame's origin matters
        t = (0.5, 0.0, 733600.0, 0.0, -0.5, 3726000.0)
        gt = [G.transform_wkt(w, t) if w else w for w in gt]
        pred = [G.transform_wkt(w, t) for w in pred]
    return gt, pred


def _sha(*arrays) -> str:
    h = hashlib.sha256()
    for a in arrays:
        h.update(np.ascontiguousarray(a, dtype=np.float64).tobytes())
    return h.hexdigest()


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_polygon_sets_overlap_bits(seed):
    gt, pred = _eval_group(seed)
    gs, ps = G.polygon_sets(gt, pred)
    pairs = np.array([O.overlap(gs, i, ps, j)
                      for i in range(len(gt)) for j in range(len(pred))])
    assert (pairs[:, 1] > 0.5).sum() >= 10   # real matches are in the mix
    assert _sha(gs.area, gs.bbox, ps.area, ps.bbox, pairs) == \
        OVERLAP_SHA256[seed]


def test_vector_tiles_clip_bits(spark):
    from solaris_spark.operators import tiling

    w, h = 300, 260
    t = (0.5, 0.0, 733600.0, 0.0, -0.5, 3726000.0)
    geo = spark.createDataFrame(
        [("v", w, h, *t, 32616, 0.0)],
        "image_id string, w int, h int, a double, b double, c double, "
        "d double, e double, f double, epsg int, nodata double")
    wkts = synth.synth_labels_for(5, "v", w, h, 30, 30)
    wkts += _odd_shapes(np.random.default_rng(5), w, h, 6)
    labels = spark.createDataFrame(
        list(enumerate(wkts)), "label_id int, wkt_pix string") \
        .selectExpr("'v' AS image_id", "label_id", "wkt_pix")
    grid = tiling.tile_grid(geo, (64, 64))
    rows = tiling.vector_tiles(tiling.labels_geo(labels, geo), grid) \
        .select("tile_id", "label_id", "wkt_geo", "origarea",
                "clip_area").collect()
    rows.sort(key=lambda r: (r.tile_id, r.label_id))
    assert len(rows) > len(wkts)           # labels cross tile borders
    digest = hashlib.sha256()
    for r in rows:
        digest.update(f"{r.tile_id}|{r.label_id}|{r.wkt_geo}|"
                      f"{r.origarea.hex()}|{r.clip_area.hex()}\n".encode())
    assert digest.hexdigest() == CLIP_SHA256


GreedyRow = namedtuple("GreedyRow", "image_id row_id wkt order kind")
ScotRow = namedtuple("ScotRow", "aoi timestep id wkt kind")


def _row_digest(rows) -> str:
    """sha256 of rows of ints, strings, None and floats (as ``hex()``)."""
    h = hashlib.sha256()
    for r in rows:
        h.update("|".join(v.hex() if isinstance(v, float) else repr(v)
                          for v in r).encode() + b"\n")
    return h.hexdigest()


def _match_group(seed):
    """An eval group plus the cases the claim loops must order: a GT
    duplicated (an IoU tie between two GTs), a duplicated proposal (a tie
    for the second copy's GT) and an EMPTY proposal."""
    gt, pred = _eval_group(seed)
    gt = gt + [gt[4]]
    pred = pred + [pred[5], "POLYGON EMPTY"]
    return gt, pred


def test_greedy_match_rows_bits():
    rows = []
    for seed in (0, 1, 2):
        gt, pred = _match_group(seed)
        order = np.random.default_rng(seed + 100).permutation(len(pred))
        group = ([GreedyRow(f"g{seed}", 3 * k + 1, w, 0, "gt")
                  for k, w in enumerate(gt)]
                 + [GreedyRow(f"g{seed}", 1000 + k, w, int(order[k]), "pred")
                    for k, w in enumerate(pred)])
        for miniou, min_area in ((0.5, 0.0), (0.25, 40.0)):
            out = evalops._greedy_match_group(group, miniou, min_area)
            assert sum(r[4] is not None for r in out if r[1] == "pred") >= 10
            rows += out
    assert _row_digest(rows) == GREEDY_SHA256


def test_scot_rows_bits():
    """Two timesteps of one AOI: the second re-uses the first's GT ids for
    the GTs it keeps and adds new ones; proposal ids partly follow their
    GT.  Each timestep's last GT repeats GT 7's id on a copy of it moved
    by 0.6 of its width, so which of the id's pairs is written last
    decides whether GT 7's match clears the threshold."""
    gt0, pred0 = _eval_group(0)
    gt1, pred1 = _eval_group(1)
    rows = []
    for ts, (gt, pred) in enumerate(((gt0, pred0), (gt1, pred1))):
        gt = [w for w in gt if w]
        rows += [ScotRow("a", ts, k if k % 4 else 100 * ts + k, w, "gt")
                 for k, w in enumerate(gt)]
        x0, _, x1, _ = G.geom_bounds(gt[7])
        rows.append(ScotRow("a", ts, 7, G.transform_wkt(
            gt[7], (1.0, 0.0, 0.6 * (x1 - x0), 0.0, 1.0, 0.0)), "gt"))
        rows += [ScotRow("a", ts, k if k % 3 else 50 + 100 * ts + k, w,
                         "prop") for k, w in enumerate(pred)]
    out = []
    for ts in (0, 1):
        g_match, p_match, *counts, g_set, p_set = scot.match_footprints_np(
            [r for r in rows if r.kind == "gt" and r.timestep == ts],
            [r for r in rows if r.kind == "prop" and r.timestep == ts])
        assert len(g_match) >= 10
        out += [tuple(g_match), tuple(p_match), tuple(counts),
                tuple(sorted(g_set)), tuple(sorted(p_set))]
    score = scot.scot_one_aoi_np(rows)
    out.append(tuple(score[k] for k in scot.SCOT_SCHEMA.names))
    assert _row_digest(out) == SCOT_SHA256


def test_class_matched_ious_rows_bits(spark):
    """Two classes over two eval groups, plus an image whose first GT
    touches its proposal only along an edge (zero intersection area, a
    candidate through the segment test) and whose second GT overlaps it:
    in the recall pass the touching GT takes the proposal first."""
    gt_rows, pred_rows = [], []
    for seed in (0, 2):
        gt, pred = _match_group(seed)
        rng = np.random.default_rng(seed + 200)
        gt_rows += [(f"c{seed}", k, w, "ab"[int(rng.integers(2))])
                    for k, w in enumerate(gt)]
        pred_rows += [(f"c{seed}", k, w, "ab"[int(rng.integers(2))],
                       float(rng.uniform()))
                      for k, w in enumerate(pred)]
    gt_rows += [("t", 0, "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))", "a"),
                ("t", 1, "POLYGON ((10 1, 14 1, 14 5, 10 5, 10 1))", "a")]
    pred_rows.append(("t", 0, "POLYGON ((10 2, 16 2, 16 8, 10 8, 10 2))",
                      "a", 0.5))
    gt_df = spark.createDataFrame(
        gt_rows, "image_id string, row_id long, wkt string, class string")
    pred_df = spark.createDataFrame(
        pred_rows, "image_id string, row_id long, wkt string, "
        "class string, conf double")
    got = sorted(tuple(r) for r in
                 evalops.class_matched_ious(gt_df, pred_df).collect())
    touching = sorted(r[1:5] for r in got if r[0] == "t")
    assert touching[1:] == [("recall", "a", 0, 0.0), ("recall", "a", 1, 0.0)]
    assert touching[0][:3] == ("precision", "a", 0)
    assert abs(touching[0][3] - 0.3) < 1e-12
    assert sum(r[4] > 0.5 for r in got) >= 10
    assert _row_digest(got) == CLASS_SHA256
