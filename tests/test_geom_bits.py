"""Bit pins of the evaluation and clip outputs, without reference fixtures.

Every greedy, SCOT and golden-mask test that would catch a moved bit in
the polygon kernels opens a reference fixture.  These hashes, recorded
before the polygon batches were packed, pin the same values on seeded
synthetic inputs:

- ``polygon_sets`` (areas, bboxes) and ``overlap`` ``(inter, iou)`` of
  every GT × proposal pair over three label_eval-shaped groups: synth
  labels, jittered proposals and false positives, with holes,
  multipolygons, clockwise exteriors, None / ``""`` / EMPTY rows, and
  one group at UTM-sized coordinates;
- ``vector_tiles``' clip outputs (``wkt_geo``, ``origarea``,
  ``clip_area``) over a seeded synth image's labels in UTM coordinates.
"""

import hashlib

import numpy as np
import pytest

from solaris_spark.functions import geom as G
from solaris_spark.sources import synth

OVERLAP_SHA256 = {
    0: "c7b2bc991067359bf621989a8524427893cbe98410bf19695ae6c1f889889b28",
    1: "010bb64ca65fb59509e3eecb8231bec2ab3646f38ca742efc53e750bacfe636f",
    2: "66d21619af149e843f78183be245c63358750cac96274dc4864dd7f77f5d8818",
}
CLIP_SHA256 = \
    "2e2e6ec186ebce70c18e0d2806f46fd757535b8570816340afe2d16944431b6b"


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
    pairs = np.array([G.overlap(gs, i, ps, j)
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
