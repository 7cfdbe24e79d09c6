"""Pixel metric + SCOT operator tests vs the reference's pinned values
(tests/test_eval/pixel_test.py; relaxed_f1 doctest at eval/pixel.py:253-286).
SCOT has no test fixture upstream — checked with hand-derivable scenarios.
"""

import numpy as np
import pytest

from solaris_spark.operators import pixelops, scot

TRUTH3 = np.array([[0, 0, 1], [0, 1, 0], [1, 1, 1]], dtype=np.uint8)
PROP3 = np.array([[0, 0, 0], [1, 1, 0], [1, 0, 1]], dtype=np.uint8)


class TestPixelKernels:
    def test_iou_basic(self):
        tp, fp, tn, fn = pixelops.pixel_counts(TRUTH3, PROP3)
        assert tp / (tp + fp + fn) == 0.5

    def test_iou_pvals_threshold(self):
        prop = np.array([[0, 0.1, 0.4], [0.8, 0.7, 0.5], [1, 0, 1]])
        tp, fp, tn, fn = pixelops.pixel_counts(TRUTH3, prop, prop_threshold=0.55)
        assert tp / (tp + fp + fn) == 0.5

    def test_f1_basic(self):
        tp, fp, tn, fn = pixelops.pixel_counts(TRUTH3, PROP3)
        precision = tp / (tp + fp)
        recall = tp / (tp + fn)
        assert abs(precision - 0.75) < 1e-7
        assert abs(recall - 0.6) < 1e-7
        assert abs(2 * precision * recall / (precision + recall) - 2 / 3) < 1e-7

    def test_relaxed_f1_doctest(self):
        """eval/pixel.py:253-286 doctest: (0.857142..., 0.75, 1.0)."""
        truth = np.zeros((10, 10))
        prop = np.zeros((10, 10))
        truth[5, :] = 1
        prop[5, :] = 1
        prop[:, 2] = 0
        prop[:, 3] = 1
        prop[6:8, :] = 0
        ph, npr, rh, nt = pixelops.relaxed_counts(truth, prop, radius=3)
        rp = ph / npr
        rr = rh / nt
        assert rp == 0.75 and rr == 1.0
        assert abs(2 * rp * rr / (rp + rr) - 0.8571428571428571) < 1e-12


class TestPixelSparkOps:
    def test_tiled_equals_global(self, spark):
        """Summing per-tile counts before dividing == single-array scores."""
        rng = np.random.default_rng(3)
        truth = (rng.random((64, 64)) > 0.7).astype(np.uint8)
        prop = (rng.random((64, 64)) > 0.7).astype(np.uint8)
        rows = []
        for i in range(4):
            r0, c0 = (i // 2) * 32, (i % 2) * 32
            rows.append((f"t{i}", bytearray(truth[r0:r0+32, c0:c0+32].tobytes()),
                         bytearray(prop[r0:r0+32, c0:c0+32].tobytes()), 32, 32))
        df = spark.createDataFrame(
            rows, "group_id string, truth binary, prop binary, h int, w int")
        counts = pixelops.mask_pair_counts(df, relaxed_radius=0)
        s = pixelops.pixel_scores(counts).collect()[0]
        tp, fp, tn, fn = pixelops.pixel_counts(truth, prop)
        assert s["tp"] == tp and s["fp"] == fp and s["fn"] == fn
        assert s["pixel_iou"] == tp / (tp + fp + fn)


class TestScot:
    def _df(self, spark, rows):
        return spark.createDataFrame(
            rows, "aoi string, timestep string, id long, wkt string")

    def test_perfect_match_score_1(self, spark):
        sq = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
        sq2 = "POLYGON ((20 0, 30 0, 30 10, 20 10, 20 0))"
        gt, pr = [], []
        for ts in ["t1", "t2", "t3"]:
            for i, w in [(1, sq), (2, sq2)]:
                gt.append(("a", ts, i, w))
                pr.append(("a", ts, i, w))
        # new building appears at t2 in both (change TP)
        sq3 = "POLYGON ((40 0, 50 0, 50 10, 40 10, 40 0))"
        for ts in ["t2", "t3"]:
            gt.append(("a", ts, 3, sq3))
            pr.append(("a", ts, 3, sq3))
        out = scot.scot_scores(self._df(spark, gt), self._df(spark, pr)).collect()[0]
        assert out["mismatches"] == 0
        assert out["track_score"] == 1.0
        assert out["change_score"] == 1.0
        assert out["combo_score"] == 1.0

    def test_id_swap_counts_mismatches(self, spark):
        """Swapping proposal ids between timesteps → tracking mismatches."""
        sq = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
        sq2 = "POLYGON ((20 0, 30 0, 30 10, 20 10, 20 0))"
        gt = [("a", "t1", 1, sq), ("a", "t1", 2, sq2),
              ("a", "t2", 1, sq), ("a", "t2", 2, sq2)]
        pr = [("a", "t1", 7, sq), ("a", "t1", 8, sq2),
              ("a", "t2", 8, sq), ("a", "t2", 7, sq2)]  # ids swapped at t2
        out = scot.scot_scores(self._df(spark, gt), self._df(spark, pr)).collect()[0]
        assert out["mismatches"] == 2
        assert out["track_tp"] == 2 and out["track_fp"] == 2 and out["track_fn"] == 2

    def test_no_proposals(self, spark):
        sq = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
        gt = [("a", "t1", 1, sq), ("a", "t2", 1, sq)]
        pr = [("a", "t1", 99,
               "POLYGON ((100 100, 110 100, 110 110, 100 110, 100 100))")]
        out = scot.scot_scores(self._df(spark, gt), self._df(spark, pr)).collect()[0]
        assert out["track_tp"] == 0
        assert out["combo_score"] == 0.0

    def test_multi_aoi_parallel(self, spark):
        sq = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
        gt = [(a, "t1", 1, sq) for a in ["a", "b", "c"]]
        pr = [(a, "t1", 1, sq) for a in ["a", "b", "c"]]
        out = scot.scot_scores(self._df(spark, gt), self._df(spark, pr))
        rows = {r["aoi"]: r for r in out.collect()}
        assert set(rows) == {"a", "b", "c"}
        # single timestep → no change-detection opportunities → change 0
        assert all(r["track_score"] == 1.0 for r in rows.values())

    def test_proposal_at_non_gt_timestep_skipped(self, spark):
        """Timesteps come from GT only — the reference silently skips
        proposals at timesteps with no ground truth (scot_one_aoi builds
        both loops from grnd_df); they must not score as FPs (ADVICE r01)."""
        sq = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
        gt = [("a", "t1", 1, sq), ("a", "t2", 1, sq)]
        pr = [("a", "t1", 1, sq), ("a", "t2", 1, sq), ("a", "t9", 1, sq)]
        out = scot.scot_scores(self._df(spark, gt), self._df(spark, pr)).collect()[0]
        assert out["track_fp"] == 0
        assert out["track_score"] == 1.0

    def test_null_and_empty_string_wkt_rows(self, spark):
        """A NULL and a ``""`` WKT read as EMPTY: each such GT is a false
        negative and each such proposal a false positive, no crash."""
        sq = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
        gt = [("a", "t1", 1, sq), ("a", "t1", 2, None), ("a", "t1", 3, "")]
        pr = [("a", "t1", 1, sq), ("a", "t1", 5, None), ("a", "t1", 6, "")]
        out = scot.scot_scores(self._df(spark, gt), self._df(spark, pr)).collect()
        assert [tuple(r) for r in out] == [
            ("a", 0, 1, 2, 2, 1 / 3, 0, 0, 0, 0.0, 0.0)]

    def test_empty_gt_counts_as_fn(self, spark):
        """A POLYGON EMPTY footprint intersects nothing, so it is one
        unmatched GT (a false negative), not a crash."""
        sq = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
        gt = [("a", "t1", 1, sq), ("a", "t1", 2, "POLYGON EMPTY")]
        pr = [("a", "t1", 1, sq)]
        out = scot.scot_scores(self._df(spark, gt), self._df(spark, pr)).collect()[0]
        assert (out["track_tp"], out["track_fp"], out["track_fn"]) == (1, 0, 1)
