"""Greedy IoU matching + score parity vs the reference's pinned eval results
(mirrors /root/reference/tests/test_eval/evaluator_test.py)."""

import json

import numpy as np
import pandas as pd
import pytest

from solaris_spark.functions import geom as G
from solaris_spark.operators import evalops

DATA = "/root/reference/solaris/data"


def gj_rows(path, img="img0"):
    gj = json.load(open(path))
    rows = []
    for i, f in enumerate(gj["features"]):
        if f["geometry"]["type"] == "Polygon":
            rings = [np.asarray(r, dtype=np.float64)[:, :2]
                     for r in f["geometry"]["coordinates"]]
            rows.append((img, i, G.wkt_dump("POLYGON", rings)))
    return rows


class TestGreedyMatch:
    @pytest.mark.needs_reference("gt.geojson")
    def test_pinned_tp_fp_fn(self, spark):
        """TP=8, FP=20, FN=20, P=R=F1=0.2857142857142857."""
        gt = spark.createDataFrame(gj_rows(f"{DATA}/gt.geojson"),
                                   "image_id string, row_id long, wkt string")
        pred = spark.createDataFrame(
            [(a, b, c, 1.0) for a, b, c in gj_rows(f"{DATA}/pred.geojson")],
            "image_id string, row_id long, wkt string, conf double")
        match = evalops.greedy_iou_match(gt, pred, miniou=0.5)
        s = evalops.image_scores(match, miniou=0.5).collect()[0]
        assert (s["TruePos"], s["FalsePos"], s["FalseNeg"]) == (8, 20, 20)
        assert s["Precision"] == 0.2857142857142857
        assert s["Recall"] == 0.2857142857142857
        assert s["F1Score"] == 0.2857142857142857

    @pytest.mark.needs_reference("SN2_sample_truth.csv")
    def test_per_building_iou_1e9(self, spark):
        """SN2 per-building IoU vs golden CSV to eps=1e-9 (evaluator_test.py:72-94)."""
        tr = pd.read_csv(f"{DATA}/SN2_sample_truth.csv")
        pr = pd.read_csv(f"{DATA}/SN2_sample_preds.csv")
        exp = pd.read_csv(f"{DATA}/SN2_sample_iou_by_building.csv", index_col=0)
        gt = spark.createDataFrame(
            [(r.ImageId, int(i), r.PolygonWKT_Pix) for i, r in tr.iterrows()],
            "image_id string, row_id long, wkt string")
        pred = spark.createDataFrame(
            [(r.ImageId, int(i), r.PolygonWKT_Pix, float(r.Confidence))
             for i, r in pr.iterrows()],
            "image_id string, row_id long, wkt string, conf double")
        match = evalops.greedy_iou_match(gt, pred, miniou=0.5, min_area=20).toPandas()
        got = tr.copy()
        got["iou_score"] = 0.0
        gtm = match[match["kind"] == "gt"].set_index("row_id")
        for rid, iou in gtm["iou_score"].items():
            got.loc[rid, "iou_score"] = iou
        diff = (got["iou_score"] - exp["iou_score"]).abs()
        assert diff.max() < 1e-9

    def test_aoi_rollup_recompute(self, spark):
        """challenges.py:62-87: P/R/F1 recomputed from summed counts."""
        df = spark.createDataFrame(
            [("a", "i1", 5, 5, 0), ("a", "i2", 0, 0, 10), ("b", "i3", 3, 1, 1)],
            "aoi string, image_id string, TruePos long, FalsePos long, FalseNeg long")
        out = {r["aoi"]: r for r in evalops.aoi_rollup(df).collect()}
        # AOI a: TP=5 FP=5 FN=10 -> P=.5 R=1/3 F1=.4 (not mean of per-image)
        assert out["a"]["Precision"] == 0.5
        assert abs(out["a"]["Recall"] - 1 / 3) < 1e-12
        assert abs(out["a"]["F1Score"] - 0.4) < 1e-12
        assert out["b"]["Precision"] == 0.75

    def test_map_interpolated(self, spark):
        """mAP window math on a hand-computed example."""
        # 4 preds conf-desc: TP,FP,TP,FP ; 2 GT total
        pairs = spark.createDataFrame(
            [(0.9, 1), (0.8, 0), (0.7, 1), (0.6, 0)], "conf double, is_tp int")
        ap = evalops.average_precision(pairs, n_gt=2).collect()[0]["ap"]
        # precision@recall curve: r=.5 -> max p = 1.0 ; r=1.0 -> max p = 2/3
        # AP = (51*1.0 + 50*(2/3)) / 101
        expected = (51 * 1.0 + 50 * (2 / 3)) / 101
        assert abs(ap - expected) < 1e-12

    def test_zero_area_gt_excluded_from_fn(self, spark):
        """Reference base.py:182-183 counts FalseNeg only over leftover GT
        with area > 0; zero-area GT rows (which pass the default
        min_area=0 '>=' keep filter) must not inflate FN (ADVICE r01)."""
        sq = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
        degen = "POLYGON ((5 5, 5 5, 5 5, 5 5))"
        gt = spark.createDataFrame(
            [("i", 0, sq), ("i", 1, degen)],
            "image_id string, row_id long, wkt string")
        pred = spark.createDataFrame(
            [("i", 0, sq, 1.0)],
            "image_id string, row_id long, wkt string, conf double")
        m = evalops.greedy_iou_match(gt, pred, miniou=0.5)
        s = evalops.image_scores(m, miniou=0.5).collect()[0]
        assert s["TruePos"] == 1 and s["FalsePos"] == 0
        assert s["FalseNeg"] == 0

    def test_null_and_empty_string_wkt_rows(self, spark):
        """pack_polygons reads a NULL and a ``""`` WKT as EMPTY: each GT
        keeps a zero-area unmatched row, and each proposal (kept only if
        its area > min_area) has none; the square pair still matches."""
        sq = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
        gt = spark.createDataFrame(
            [("i", 0, sq), ("i", 1, None), ("i", 2, "")],
            "image_id string, row_id long, wkt string")
        pred = spark.createDataFrame(
            [("i", 0, sq, 0.9), ("i", 1, None, 0.8), ("i", 2, "", 0.7)],
            "image_id string, row_id long, wkt string, conf double")
        rows = evalops.greedy_iou_match(gt, pred, miniou=0.5).collect()
        assert sorted(tuple(r) for r in rows) == [
            ("i", "gt", 0, 1.0, 0, 100.0), ("i", "gt", 1, 0.0, None, 0.0),
            ("i", "gt", 2, 0.0, None, 0.0), ("i", "pred", 0, 1.0, 0, 100.0)]

    def test_identical_pair_iou_is_exactly_one(self, spark):
        """A proposal identical to its GT scores exactly 1.0 on both rows:
        the fan-triangle intersection may overshoot the shoelace area by an
        ulp, and the shared IoU rule clamps it to min(area_a, area_b)."""
        w = ("POLYGON ((7.733293563541908 2.325109555738393, "
             "0.1784085395397191 8.073297602536648, "
             "-7.623031022223133 2.664462763922294, "
             "-4.889700808568469 -6.426569052674183, "
             "4.601029727709975 -6.636300869523153, "
             "7.733293563541908 2.325109555738393))")
        gt = spark.createDataFrame(
            [("i", 0, w)], "image_id string, row_id long, wkt string")
        pred = spark.createDataFrame(
            [("i", 0, w, 1.0)],
            "image_id string, row_id long, wkt string, conf double")
        rows = evalops.greedy_iou_match(gt, pred, miniou=0.5).collect()
        assert sorted(r["kind"] for r in rows) == ["gt", "pred"]
        assert all(r["iou_score"] == 1.0 for r in rows)
        assert all(r["matched_gt"] == 0 for r in rows)

    def test_seeded_rectangles_match_closed_form(self, spark):
        """Random axis-aligned rectangles, where IoU has a closed form:
        greedy_iou_match gives the same matches as a plain-Python greedy
        over the closed-form IoUs (proposals in conf-desc, row_id order;
        candidates = alive GT whose closed rect touches; first max wins;
        claim iff iou > miniou; per-GT best IoU over its argmax claims)."""
        rng = np.random.default_rng(20261017)
        miniou = 0.5

        def rect_wkt(r):
            x1, y1, x2, y2 = (repr(float(v)) for v in r)
            return (f"POLYGON (({x1} {y1}, {x2} {y1}, {x2} {y2}, "
                    f"{x1} {y2}, {x1} {y1}))")

        def rect_iou(a, b):
            iw = min(a[2], b[2]) - max(a[0], b[0])
            ih = min(a[3], b[3]) - max(a[1], b[1])
            if iw < 0 or ih < 0:
                return None                      # not a candidate
            inter = iw * ih
            aa = (a[2] - a[0]) * (a[3] - a[1])
            ab = (b[2] - b[0]) * (b[3] - b[1])
            return inter / (aa + ab - inter)

        gt_rows, pred_rows, expect = [], [], {}
        for img in ("a", "b", "c", "d"):
            xy = rng.uniform(0, 80, (12, 2))
            gts = np.hstack([xy, xy + rng.uniform(2, 15, (12, 2))])
            preds = []
            for k in range(16):
                if k < 11:                       # a GT, exact or jittered
                    r = gts[rng.integers(len(gts))].copy()
                    if k % 4:
                        r += rng.normal(0, 1.5, 4)
                else:                            # anywhere
                    r = np.r_[rng.uniform(0, 80, 2), 0, 0]
                    r[2:] = r[:2] + rng.uniform(2, 15, 2)
                lo, hi = np.minimum(r[:2], r[2:]), np.maximum(r[:2], r[2:])
                preds.append((k, np.r_[lo, hi + 0.5],
                              round(float(rng.uniform()), 1)))
            gt_rows += [(img, j, rect_wkt(g)) for j, g in enumerate(gts)]
            pred_rows += [(img, k, rect_wkt(r), c) for k, r, c in preds]

            alive = list(range(len(gts)))
            best = [0.0] * len(gts)
            for k, r, _ in sorted(preds, key=lambda p: (-p[2], p[0])):
                ious = [(j, rect_iou(r, gts[j])) for j in alive]
                ious = [(j, v) for j, v in ious if v is not None]
                matched, score = None, 0.0
                if ious:
                    j, v = max(ious, key=lambda t: (t[1], -t[0]))
                    best[j] = max(best[j], v)
                    if v > miniou:
                        alive.remove(j)
                        matched, score = j, v
                expect[(img, "pred", k)] = (score, matched)
            for j in range(len(gts)):
                expect[(img, "gt", j)] = (best[j],
                                          None if j in alive else j)

        gt = spark.createDataFrame(
            gt_rows, "image_id string, row_id long, wkt string")
        pred = spark.createDataFrame(
            pred_rows, "image_id string, row_id long, wkt string, conf double")
        got = {(r["image_id"], r["kind"], r["row_id"]):
               (r["iou_score"], r["matched_gt"])
               for r in evalops.greedy_iou_match(gt, pred, miniou).collect()}
        assert got.keys() == expect.keys()
        assert sum(m is not None for _, m in expect.values()) > 20
        for key, (score, matched) in expect.items():
            assert got[key][1] == matched, key
            assert abs(got[key][0] - score) <= 1e-12, key
            assert got[key][0] <= 1.0, key


class TestClassMatchedIous:
    def test_null_and_empty_string_wkt_rows(self, spark):
        """A NULL and a ``""`` WKT read as EMPTY on both sides: those
        proposals score 0 and consume no GT, those GT recall 0."""
        sq = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
        gt = spark.createDataFrame(
            [("i", 0, sq, "a"), ("i", 1, None, "a"), ("i", 2, "", "a")],
            "image_id string, row_id long, wkt string, class string")
        pred = spark.createDataFrame(
            [("i", 0, None, "a", 0.9), ("i", 1, "", "a", 0.8),
             ("i", 2, sq, "a", 0.7)],
            "image_id string, row_id long, wkt string, class string, "
            "conf double")
        rows = evalops.class_matched_ious(gt, pred).collect()
        assert sorted(tuple(r) for r in rows) == [
            ("i", "precision", "a", 0, 0.0, 0.9),
            ("i", "precision", "a", 1, 0.0, 0.8),
            ("i", "precision", "a", 2, 1.0, 0.7),
            ("i", "recall", "a", 0, 1.0, None),
            ("i", "recall", "a", 1, 0.0, None),
            ("i", "recall", "a", 2, 0.0, None)]

    @pytest.mark.parametrize("empty", ["POLYGON EMPTY", None])
    def test_empty_proposal_scores_zero_and_consumes_no_gt(self, spark, empty):
        """An empty proposal has no intersects-candidates: its precision
        row scores 0 and the GT stays in the pool for the next proposal."""
        sq = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
        gt = spark.createDataFrame(
            [("i", 0, sq, "a")],
            "image_id string, row_id long, wkt string, class string")
        pred = spark.createDataFrame(
            [("i", 0, empty, "a", 0.9), ("i", 1, sq, "a", 0.8)],
            "image_id string, row_id long, wkt string, class string, "
            "conf double")
        rows = evalops.class_matched_ious(gt, pred).collect()
        prec = sorted((r["obj_idx"], r["iou"]) for r in rows
                      if r["side"] == "precision")
        rec = [r["iou"] for r in rows if r["side"] == "recall"]
        assert prec[0] == (0, 0.0)
        assert prec[1][0] == 1 and abs(prec[1][1] - 1.0) < 1e-12
        assert len(rec) == 1 and abs(rec[0] - 1.0) < 1e-12
