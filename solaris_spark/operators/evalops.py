"""Evaluation joins + aggregations: IoU matching, per-image scores, rollups.

Re-expresses (Spark-first):
- calculate_iou           → solaris/eval/iou.py:4-44 (IoU per candidate pair)
- eval_iou greedy match   → solaris/eval/base.py:268-287: proposals in order
                            each claim their max-IoU GT (strictly > miniou)
                            and REMOVE it; leftover GT = FN; TP counts >= miniou
- eval_iou_spacenet_csv   → base.py:63-208: per-image loop + min_area filters
                            (GT: area >= min_area, proposals: area > min_area)
                            + per-building max-claimed IoU (get_iou_by_building)
- score rollup            → base.py:157-206 (P/R/F1), challenges.py:62-87
                            (AOI groupby-sum + recompute)
- mAP                     → eval/vector.py:469-513

The sequential claim semantics exist only WITHIN an image group —
images are the parallel axis (10^12 of them at scale), so the engine runs
the greedy match as one blobs.group_blobs group per image_id (a shuffle
on image_id, no spatial candidate join); its rows leave Python as bounded
Arrow batches.  Salting hot images is the caller's knob (plans/skew.py).
A pair's IoU does not depend on the claim order, so each match pass
scores every pair of the group in one geom.overlaps call, which keeps
only the pairs whose bboxes touch, and its claim loop reads them from a
(query × pool) array.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, Window

from ..functions import geom as G
from .blobs import group_blobs

MATCH_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("kind", T.StringType(), False),      # 'pred' | 'gt'
    T.StructField("row_id", T.LongType(), False),
    T.StructField("iou_score", T.DoubleType(), True),
    T.StructField("matched_gt", T.LongType(), True),
    T.StructField("area", T.DoubleType(), True),
])


def _first_max(ious: np.ndarray, alive: np.ndarray) -> tuple[int, float]:
    """(j, IoU) of the first maximum over the alive candidates of one row
    of IoUs (-1 marks a non-candidate) — pandas idxmax's tie-break;
    (-1, -1.0) when no alive candidate is left."""
    cand = np.where(alive, ious, -1.0)
    j = int(np.argmax(cand)) if len(cand) else -1
    return (j, cand[j]) if j >= 0 and cand[j] >= 0 else (-1, -1.0)


def _greedy_match_group(rows: list, miniou: float, min_area: float) -> list:
    """One image's greedy match over its input rows (image_id, row_id,
    wkt, order, kind), as MATCH_SCHEMA tuples. Exact reference semantics:

    - GT filtered to area >= min_area; proposals to area > min_area
      (base.py:114-120 — note the asymmetric comparison)
    - proposals processed in ascending `order` (conf-desc rank assigned
      upstream); zero-area proposals score 0 (base.py:126)
    - per proposal: IoU vs REMAINING GT; first-max tie-break in GT original
      order (pandas idxmax); claim iff iou > miniou (strict), then drop GT
    - per-GT "iou_score" records the max IoU over proposals whose argmax it
      was, even when below miniou (base.py:138-146 / get_iou_by_building)
    """
    image_id = rows[0].image_id
    gt = sorted((r for r in rows if r.kind == "gt"), key=lambda r: r.row_id)
    pred = sorted((r for r in rows if r.kind == "pred"),
                  key=lambda r: r.order)

    gs, ps = G.polygon_sets([r.wkt for r in gt], [r.wkt for r in pred])
    gk = np.flatnonzero(gs.area >= min_area)   # kept GT / proposal indices
    pk = np.flatnonzero(ps.area > min_area)
    gt_ids = np.array([r.row_id for r in gt], dtype=np.int64)[gk]
    pred_ids = np.array([r.row_id for r in pred], dtype=np.int64)[pk]

    # IoU of every (proposal, GT) pair, -1 where the bboxes do not touch
    ious = np.full((len(pred), len(gt)), -1.0)
    i, j, _, iou = G.overlaps(ps, gs)
    ious[i, j] = iou
    ious = ious[np.ix_(pk, gk)]

    alive = np.ones(len(gk), dtype=bool)
    gt_best = np.zeros(len(gk))
    out_pred_iou = np.zeros(len(pk))
    out_pred_match = np.full(len(pk), -1, dtype=np.int64)

    for i in np.flatnonzero(ps.area[pk] > 0):
        best_j, best_iou = _first_max(ious[i], alive)
        if best_j < 0:
            continue
        if best_iou > gt_best[best_j]:
            gt_best[best_j] = best_iou
        if best_iou > miniou:
            out_pred_iou[i] = best_iou
            out_pred_match[i] = gt_ids[best_j]
            alive[best_j] = False

    out = []
    for i, pid in enumerate(pred_ids):
        out.append((image_id, "pred", int(pid), float(out_pred_iou[i]),
                    int(out_pred_match[i]) if out_pred_match[i] >= 0 else None,
                    float(ps.area[pk[i]])))
    for j, gid in enumerate(gt_ids):
        out.append((image_id, "gt", int(gid), float(gt_best[j]),
                    None if alive[j] else int(gid), float(gs.area[gk[j]])))
    return out


def greedy_iou_match(gt: DataFrame, pred: DataFrame, miniou: float = 0.5,
                     min_area: float = 0.0) -> DataFrame:
    """Distributed greedy IoU matching.

    gt:   (image_id, row_id long, wkt string)
    pred: (image_id, row_id long, wkt string, conf double nullable)

    Proposals are ordered per image by conf desc (stable w.r.t. row_id for
    ties — load_proposal's sort, base.py:532).  Returns MATCH_SCHEMA rows:
    one per surviving proposal (iou_score, matched_gt) and one per surviving
    GT (max-claimed iou, matched flag).
    """
    w = Window.partitionBy("image_id").orderBy(
        F.desc_nulls_last("conf"), F.asc("row_id"))
    p = pred.withColumn("order", F.row_number().over(w)) \
        .select("image_id", "row_id", "wkt", "order", F.lit("pred").alias("kind"))
    g = gt.select("image_id", "row_id", "wkt",
                  F.lit(0).alias("order"), F.lit("gt").alias("kind"))
    both = p.unionByName(g)

    def rows_of(rows):
        return _greedy_match_group(rows, miniou, min_area)

    return group_blobs(both, "image_id", MATCH_SCHEMA, rows_of)


def image_scores(match: DataFrame, miniou: float = 0.5) -> DataFrame:
    """Per-image TP/FP/FN + P/R/F1 — base.py:157-206 exactly:
    TP = preds with iou >= miniou; FP = preds with iou < miniou;
    FN = GT never claimed above miniou AND area > 0 (base.py:182-183
    filters leftover GT to area > 0 before counting FalseNeg, so zero-area
    GT rows — which pass the default min_area=0 `>=` keep filter — must
    not inflate FN; ADVICE r01)."""
    agg = match.groupBy("image_id").agg(
        F.sum(F.when((F.col("kind") == "pred")
                     & (F.col("iou_score") >= miniou), 1).otherwise(0)).alias("TruePos"),
        F.sum(F.when((F.col("kind") == "pred")
                     & (F.col("iou_score") < miniou), 1).otherwise(0)).alias("FalsePos"),
        F.sum(F.when((F.col("kind") == "gt") & F.col("matched_gt").isNull()
                     & (F.col("area") > 0), 1).otherwise(0)).alias("FalseNeg"),
    )
    return with_prf(agg)


def with_prf(df: DataFrame) -> DataFrame:
    """Attach Precision/Recall/F1 from TP/FP/FN counts (0 when undefined —
    reference convention base.py:184-195)."""
    p = F.when(F.col("TruePos") + F.col("FalsePos") > 0,
               F.col("TruePos") / (F.col("TruePos") + F.col("FalsePos"))).otherwise(F.lit(0.0))
    r = F.when(F.col("TruePos") + F.col("FalseNeg") > 0,
               F.col("TruePos") / (F.col("TruePos") + F.col("FalseNeg"))).otherwise(F.lit(0.0))
    df = df.withColumn("Precision", p).withColumn("Recall", r)
    return df.withColumn(
        "F1Score",
        F.when(F.col("Precision") * F.col("Recall") > 0,
               2 * F.col("Precision") * F.col("Recall")
               / (F.col("Precision") + F.col("Recall"))).otherwise(F.lit(0.0)))


def aoi_rollup(image_scores_df: DataFrame, aoi_col: str = "aoi") -> DataFrame:
    """challenges.py:62-87: sum TP/FP/FN per AOI then recompute P/R/F1 from
    the sums (NOT averaging per-image scores)."""
    agg = image_scores_df.groupBy(aoi_col).agg(
        F.sum("TruePos").alias("TruePos"),
        F.sum("FalsePos").alias("FalsePos"),
        F.sum("FalseNeg").alias("FalseNeg"))
    return with_prf(agg)


CLASS_IOU_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("side", T.StringType(), False),   # 'precision' | 'recall'
    T.StructField("class", T.StringType(), False),
    T.StructField("obj_idx", T.LongType(), False),
    T.StructField("iou", T.DoubleType(), False),
    T.StructField("conf", T.DoubleType(), True),
])


def class_matched_ious(gt: DataFrame, pred: DataFrame,
                       classes: list[str] | None = None) -> DataFrame:
    """Per-class IoU lists for precision/recall/mAP —
    solaris/eval/vector.py:98-302 (precision_calc + recall_calc) exactly:

    - precision pass: per image, classes iterated in order; each proposal of
      the class takes its max-IoU candidate over the image's REMAINING gt
      pool (all classes); if the argmax gt's class matches, the iou is
      recorded (even below threshold) and the gt is consumed, else iou=0.
    - recall pass: symmetric with a fresh proposal pool.
    - classes defaults to the GLOBAL distinct gt classes, sorted (the
      reference uses an unordered set — order only matters for cross-class
      pool contention, rare in practice; sorted = deterministic).

    gt: (image_id, row_id, wkt, class); pred adds conf.
    """
    if classes is None:
        classes = sorted(r["class"] for r in
                         gt.select("class").distinct().collect())

    # "class" is a Python keyword, so the rows carry it as "cls"
    g = gt.select("image_id", "row_id", "wkt", F.col("class").alias("cls"),
                  F.lit(None).cast("double").alias("conf"),
                  F.lit("gt").alias("kind"))
    p = pred.select("image_id", "row_id", "wkt", F.col("class").alias("cls"),
                    "conf", F.lit("pred").alias("kind"))
    both = g.unionByName(p)

    def rows_of(rows):
        image_id = rows[0].image_id
        gt_rows = sorted((r for r in rows if r.kind == "gt"),
                         key=lambda r: r.row_id)
        pr_rows = sorted((r for r in rows if r.kind == "pred"),
                         key=lambda r: r.row_id)

        gs, ps = G.polygon_sets([r.wkt for r in gt_rows],
                                [r.wkt for r in pr_rows])
        out = []

        def one_pass(side, q, q_cls, pool, pool_cls, confs):
            # intersects-candidates: bbox-touching pairs that share area or
            # touch along an edge; IoU -1 for the rest
            i, j, inter, iou = G.overlaps(q, pool)
            hit = inter > 0
            for k in np.flatnonzero(~hit):
                hit[k] = G.any_segments_intersect(
                    G.polygon_edges(q.rings[i[k]]),
                    G.polygon_edges(pool.rings[j[k]]))
            ious = np.full((len(q.area), len(pool_cls)), -1.0)
            ious[i[hit], j[hit]] = iou[hit]
            alive = np.ones(len(pool_cls), dtype=bool)
            for obj in classes:
                of_obj = (k for k, c in enumerate(q_cls) if c == obj)
                for n, qi in enumerate(of_obj):
                    best_j, best_iou = _first_max(ious[qi], alive)
                    iou_val = 0.0
                    if best_j >= 0 and pool_cls[best_j] == obj:
                        iou_val = best_iou
                        alive[best_j] = False
                    out.append((image_id, side, obj, n, iou_val, confs[qi]))

        g_cls = [r.cls for r in gt_rows]
        p_cls = [r.cls for r in pr_rows]
        one_pass("precision", ps, p_cls, gs, g_cls, [r.conf for r in pr_rows])
        one_pass("recall", gs, g_cls, ps, p_cls, [None] * len(g_cls))
        return out

    return group_blobs(both, "image_id", CLASS_IOU_SCHEMA, rows_of)


def class_scores(class_ious: DataFrame, threshold: float = 0.5) -> DataFrame:
    """precision/recall/F1 per class (average_score_by_class + mF1,
    eval/vector.py:9-35, 306-395): score = mean(iou >= t) per class/side."""
    per = (class_ious.groupBy("class", "side")
           .agg(F.avg((F.col("iou") >= threshold).cast("double")).alias("score")))
    pv = per.groupBy("class").pivot("side", ["precision", "recall"]) \
        .agg(F.first("score"))
    pv = pv.na.fill(0.0, ["precision", "recall"])
    return pv.withColumn(
        "f1",
        F.when(F.col("precision") + F.col("recall") > 0,
               2 * F.col("precision") * F.col("recall")
               / (F.col("precision") + F.col("recall"))).otherwise(F.lit(0.0)))


def average_precision_by_class(class_ious: DataFrame,
                               threshold: float = 0.5) -> DataFrame:
    """Interpolated per-class AP (eval/vector.py:469-513 exactly):
    precision-side ious sorted desc by (conf, iou), cumulative TP/FP,
    recall denominator = the class's gt count (recall-side rows), max
    precision at 101 recall thresholds, averaged.  Window + crossJoin —
    relational all the way; returns a (class, ap) DataFrame, so AP
    composes downstream (joins, rollups, sinks) without leaving Spark.
    ``mean_average_precision`` is the driver-side dict convenience."""
    spark = class_ious.sparkSession
    prec = class_ious.filter(F.col("side") == "precision")
    ngt = (class_ious.filter(F.col("side") == "recall")
           .groupBy("class").agg(F.count(F.lit(1)).alias("n_gt")))
    w = Window.partitionBy("class").orderBy(
        F.desc("conf"), F.desc("iou"), F.desc("obj_idx")) \
        .rowsBetween(Window.unboundedPreceding, 0)
    cum = (prec.withColumn("tp", (F.col("iou") >= threshold).cast("int"))
           .withColumn("cum_tp", F.sum("tp").over(w))
           .withColumn("cum_n", F.count(F.lit(1)).over(w))
           .join(ngt, "class")
           .withColumn("precision", F.col("cum_tp") / F.col("cum_n"))
           .withColumn("recall", F.col("cum_tp") / F.col("n_gt")))
    thresholds = spark.range(101).select((F.col("id") / 100.0).alias("rt"))
    interp = (cum.crossJoin(F.broadcast(thresholds))
              .filter(F.col("recall") >= F.col("rt"))
              .groupBy("class", "rt").agg(F.max("precision").alias("pmax")))
    # classes × thresholds with 0 fill for unreachable recalls
    all_rt = ngt.select("class").crossJoin(F.broadcast(thresholds))
    return (all_rt.join(interp, ["class", "rt"], "left")
            .na.fill(0.0, ["pmax"])
            .groupBy("class").agg(F.avg("pmax").alias("ap")))


def mean_average_precision(class_ious: DataFrame,
                           threshold: float = 0.5) -> dict:
    """Driver-side convenience over ``average_precision_by_class``:
    collects the bounded (≤ #classes) AP frame and returns
    {'mAP': float, 'ap_by_class': {...}} (the reference's mAP dict,
    eval/vector.py:469-513)."""
    rows = average_precision_by_class(class_ious, threshold).collect()
    ap_by_class = {r["class"]: r["ap"] for r in rows}
    return {"mAP": float(np.mean(list(ap_by_class.values()))) if ap_by_class else 0.0,
            "ap_by_class": ap_by_class}


def average_precision(pairs: DataFrame, conf_col: str = "conf",
                      tp_col: str = "is_tp", *, n_gt: int) -> DataFrame:
    """Interpolated mAP (eval/vector.py:469-513): sort by conf desc →
    cumulative TP/FP → precision @ recall curve (recall = cumulative TP /
    ``n_gt``, the ground-truth count) → max precision at 101 recall
    thresholds → mean.  Pure window + crossJoin(thresholds) — no UDF,
    whole-stage codegen all the way.

    Scale note: the confidence ranking is GLOBAL by contract (the
    reference's single conf-desc ordering), but the running sums are
    computed as a DISTRIBUTED prefix sum (plans/prefix.py: range-bucket
    on conf, per-bucket partitioned window, literal bucket offsets) —
    NOT an unpartitioned Window, which would move the whole corpus to
    one task.  The per-class production variant
    (mean_average_precision) partitions by class natively."""
    from ..plans.prefix import global_running_agg
    cum = global_running_agg(
        pairs, conf_col,
        {"cum_tp": F.col(tp_col).cast("int"), "cum_n": F.lit(1)},
        ascending=False)
    cum = cum.withColumn("precision", F.col("cum_tp") / F.col("cum_n")) \
             .withColumn("recall", F.col("cum_tp") / F.lit(n_gt))
    spark = pairs.sparkSession
    thresholds = spark.range(101).select((F.col("id") / 100.0).alias("rt"))
    ap = (cum.crossJoin(F.broadcast(thresholds))
          .filter(F.col("recall") >= F.col("rt"))
          .groupBy("rt").agg(F.max("precision").alias("pmax"))
          .agg((F.sum("pmax") / 101.0).alias("ap")))
    return ap
