"""Pixel-mask metrics as Spark operators: IoU, F1, relaxed F1 over
(truth_mask, prop_mask) pairs.

Re-expresses solaris/eval/pixel.py (iou :8-53, f1 :56-131, relaxed_f1
:204-344) with exact semantics:
- masks clipped to {0,1}; proposal thresholded at prop_threshold
- 2·prop − truth coding: tp=1, fp=2, tn=0, fn=−1
- relaxed metrics use the reference's HALF-OPEN neighborhood window
  [r−rho, r+rho) × [c−rho, c+rho) (pixel_test parity) with zero fill
- global scores SUM counts across tiles BEFORE dividing (exact at scale,
  unlike averaging per-tile ratios)
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from .blobs import group_blobs


def pixel_counts(truth: np.ndarray, prop: np.ndarray,
                 prop_threshold: float = 0.5) -> tuple[int, int, int, int]:
    """(tp, fp, tn, fn) with the reference's 2p−t coding."""
    t = np.clip(truth, 0, 1).astype(np.float64)
    p = (np.clip(prop, 0, 1) >= prop_threshold).astype(np.float64)
    sub = 2 * p - t
    return (int((sub == 1).sum()), int((sub == 2).sum()),
            int((sub == 0).sum()), int((sub == -1).sum()))


def _shifted_max(a: np.ndarray, lo: int, hi: int) -> np.ndarray:
    """Max over window offsets [lo, hi] per axis with ZERO fill (the clipped
    neighborhood of relaxed_f1, not reflect)."""
    out = np.zeros_like(a)
    h, w = a.shape
    for dr in range(lo, hi + 1):
        r0, r1 = max(0, -dr), min(h, h - dr)
        s0, s1 = max(0, dr), min(h, h + dr)
        tmp = np.zeros_like(a)
        tmp[r0:r1] = a[s0:s1]
        out = np.maximum(out, tmp)
    out2 = np.zeros_like(a)
    for dc in range(lo, hi + 1):
        c0, c1 = max(0, -dc), min(w, w - dc)
        s0, s1 = max(0, dc), min(w, w + dc)
        tmp = np.zeros_like(a)
        tmp[:, c0:c1] = out[:, s0:s1]
        out2 = np.maximum(out2, tmp)
    return out2


def relaxed_counts(truth: np.ndarray, prop: np.ndarray,
                   radius: int = 3) -> tuple[int, int, int, int]:
    """(precision_hits, n_prop, recall_hits, n_truth) — relaxed_f1 parity:
    window rows [r−rho, r+rho) (upper bound EXCLUSIVE, pixel.py:204-210)."""
    t = np.clip(truth, 0, 1).astype(np.float64)
    p = np.clip(prop, 0, 1).astype(np.float64)
    lo, hi = -radius, radius - 1
    t_dil = _shifted_max(t, lo, hi)
    p_dil = _shifted_max(p, lo, hi)
    prec_hits = int(((p == 1) & (t_dil > 0)).sum())
    rec_hits = int(((t == 1) & (p_dil > 0)).sum())
    return prec_hits, int((p == 1).sum()), rec_hits, int((t == 1).sum())


COUNTS_SCHEMA = T.StructType([
    T.StructField("group_id", T.StringType(), False),
    T.StructField("tp", T.LongType(), False),
    T.StructField("fp", T.LongType(), False),
    T.StructField("tn", T.LongType(), False),
    T.StructField("fn", T.LongType(), False),
    T.StructField("prec_hits", T.LongType(), False),
    T.StructField("n_prop", T.LongType(), False),
    T.StructField("rec_hits", T.LongType(), False),
    T.StructField("n_truth", T.LongType(), False),
])


def mask_pair_counts(pairs: DataFrame, prop_threshold: float = 0.5,
                     relaxed_radius: int = 3,
                     group_col: str = "group_id") -> DataFrame:
    """Per-tile counts from mask pairs: (group_id, truth binary, prop binary,
    h, w).  Groups read their masks in place from the Arrow batches, so
    pixels stay executor-side."""

    def rows_of(rows):
        for key, truth, prop, h, w in rows:
            t = np.frombuffer(truth, dtype=np.uint8).reshape(h, w)
            p = np.frombuffer(prop, dtype=np.uint8).reshape(h, w)
            yield (key, *pixel_counts(t, p, prop_threshold),
                   *relaxed_counts(t, p, relaxed_radius))

    return group_blobs(pairs.select(group_col, "truth", "prop", "h", "w"),
                       group_col, COUNTS_SCHEMA, rows_of)


def pixel_scores(counts: DataFrame) -> DataFrame:
    """Global exact scores: sum counts across all tiles, THEN divide —
    matches single-array evaluation exactly (SURVEY §2.4 'pixel IoU')."""
    s = counts.agg(
        F.sum("tp").alias("tp"), F.sum("fp").alias("fp"),
        F.sum("tn").alias("tn"), F.sum("fn").alias("fn"),
        F.sum("prec_hits").alias("prec_hits"), F.sum("n_prop").alias("n_prop"),
        F.sum("rec_hits").alias("rec_hits"), F.sum("n_truth").alias("n_truth"))
    iou = F.when(F.col("tp") + F.col("fp") + F.col("fn") > 0,
                 F.col("tp") / (F.col("tp") + F.col("fp") + F.col("fn"))) \
        .otherwise(F.lit(0.0))
    prec = F.when((F.col("n_truth") > 0) & (F.col("tp") > 0),
                  F.col("tp") / (F.col("tp") + F.col("fp"))).otherwise(F.lit(0.0))
    rec = F.when((F.col("n_truth") > 0) & (F.col("tp") > 0),
                 F.col("tp") / (F.col("tp") + F.col("fn"))).otherwise(F.lit(0.0))
    rprec = F.when(F.col("n_prop") > 0,
                   F.col("prec_hits") / F.col("n_prop")).otherwise(F.lit(0.0))
    rrec = F.when(F.col("n_truth") > 0,
                  F.col("rec_hits") / F.col("n_truth")).otherwise(F.lit(0.0))
    s = (s.withColumn("pixel_iou", iou)
         .withColumn("precision", prec).withColumn("recall", rec)
         .withColumn("f1", F.when(
             F.col("precision") * F.col("recall") > 0,
             2 * F.col("precision") * F.col("recall")
             / (F.col("precision") + F.col("recall"))).otherwise(F.lit(0.0)))
         .withColumn("relaxed_precision", rprec)
         .withColumn("relaxed_recall", rrec)
         .withColumn("relaxed_f1", F.when(
             (F.col("relaxed_precision") > 0) & (F.col("relaxed_recall") > 0),
             2 * F.col("relaxed_precision") * F.col("relaxed_recall")
             / (F.col("relaxed_precision") + F.col("relaxed_recall")))
             .otherwise(F.lit(0.0))))
    return s
