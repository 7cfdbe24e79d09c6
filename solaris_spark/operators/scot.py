"""SCOT (SpaceNet Change and Object Tracking) — optimal-assignment matching
join + cross-timestep change/tracking accounting.

Re-expresses solaris/eval/scot.py (match_footprints :5-71, scot_one_aoi
:74-195, scot_multi_aoi :198-237) Spark-first: AOIs are the parallel axis
(one blobs.group_blobs group per AOI); within an AOI the timestep loop is
inherently sequential (cumulative change/track sets) and runs in numpy
with the engine's polygon-intersection and assignment kernels
(scipy-free): one geom.overlaps call scores a timestep's bbox-touching
pairs.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from ..functions import geom as G
from ..functions.assign import linear_sum_assignment
from .blobs import group_blobs

SCOT_SCHEMA = T.StructType([
    T.StructField("aoi", T.StringType(), False),
    T.StructField("mismatches", T.LongType(), False),
    T.StructField("track_tp", T.LongType(), False),
    T.StructField("track_fp", T.LongType(), False),
    T.StructField("track_fn", T.LongType(), False),
    T.StructField("track_score", T.DoubleType(), False),
    T.StructField("change_tp", T.LongType(), False),
    T.StructField("change_fp", T.LongType(), False),
    T.StructField("change_fn", T.LongType(), False),
    T.StructField("change_score", T.DoubleType(), False),
    T.StructField("combo_score", T.DoubleType(), False),
])


def match_footprints_np(grnd: list, prop: list, threshold: float = 0.25,
                        base_reward: float = 100.0):
    """One timestep's optimal matching over ground-truth and proposal rows
    (each with ``id`` and ``wkt``) — scot.py:5-71 semantics: IoU over
    intersecting pairs, reward = (iou>t)·(base+iou), maximize assignment,
    prune iou<=t."""
    g_row_ids = [r.id for r in grnd]
    p_row_ids = [r.id for r in prop]
    g_ids = sorted(set(g_row_ids))
    p_ids = sorted(set(p_row_ids))
    g_idx = {v: i for i, v in enumerate(g_ids)}
    p_idx = {v: i for i, v in enumerate(p_ids)}
    ng, np_ = len(grnd), len(prop)
    if ng == 0 or np_ == 0:
        return [], [], ng, np_, 0, np_, ng, 0.0, set(g_ids), set(p_ids)

    gs, ps = G.polygon_sets([r.wkt for r in grnd], [r.wkt for r in prop])
    reward = np.zeros((len(g_ids), len(p_ids)))
    iou_arr = np.zeros_like(reward)
    i, j, inter, iou = G.overlaps(gs, ps)
    for k in np.flatnonzero(inter > 0):   # a repeated id keeps its last pair
        gi, pj = g_idx[g_row_ids[i[k]]], p_idx[p_row_ids[j[k]]]
        iou_arr[gi, pj] = iou[k]
        reward[gi, pj] = (iou[k] > threshold) * (base_reward + iou[k])

    r, c = linear_sum_assignment(reward, maximize=True)
    iou_match = iou_arr[r, c]
    keep = iou_match > threshold
    g_match = [g_ids[i] for i in r[keep]]
    p_match = [p_ids[j] for j in c[keep]]
    tp = int(keep.sum())
    fp = np_ - tp
    fn = ng - tp
    f1 = (2 * tp) / (2 * tp + fp + fn) if 2 * tp + fp + fn > 0 else 0.0
    return g_match, p_match, ng, np_, tp, fp, fn, f1, set(g_ids), set(p_ids)


def scot_one_aoi_np(rows: list, threshold=0.25, base_reward=100.0,
                    beta=2.0) -> dict:
    """scot_one_aoi:74-195 — sequential over sorted timesteps inside one
    AOI group, given its rows (aoi, timestep, id, wkt, kind: 'gt' |
    'prop')."""
    aoi = rows[0].aoi
    grnd = [r for r in rows if r.kind == "gt"]
    prop = [r for r in rows if r.kind == "prop"]
    # timesteps come from GT ONLY — the reference derives both loops from
    # grnd_df (scot.py scot_one_aoi), silently skipping proposals at
    # timesteps with no ground truth; mirror that for score parity
    # (ADVICE r01: union-of-timesteps scored such proposals as FPs).
    timesteps = sorted({r.timestep for r in grnd})

    tp_net = fp_net = fn_net = 0
    all_g, all_p = [], []
    change_tp = change_fp = change_fn = 0
    change_g, change_p = set(), set()
    for i, ts in enumerate(timesteps):
        gts = [r for r in grnd if r.timestep == ts]
        pts = [r for r in prop if r.timestep == ts]
        g_ids, p_ids, ng, np_, tp, fp, fn, f1, g_set, p_set = \
            match_footprints_np(gts, pts, threshold, base_reward)
        tp_net += tp; fp_net += fp; fn_net += fn
        all_g = g_ids + all_g
        all_p = p_ids + all_p
        if i > 0:
            new_g = [g not in change_g for g in g_ids]
            new_p = [p not in change_p for p in p_ids]
            change_tp += sum(g and p for g, p in zip(new_g, new_p))
            change_fp += sum(p and not g for g, p in zip(new_g, new_p))
            change_fn += sum(g and not p for g, p in zip(new_g, new_p))
            change_fp += len(p_set.difference(p_ids).difference(change_p))
            change_fn += len(g_set.difference(g_ids).difference(change_g))
        change_g |= g_set
        change_p |= p_set

    mm = 0
    for i in range(len(all_g)):
        prev_g, prev_p = all_g[i + 1:], all_p[i + 1:]
        g_mm = all_g[i] in prev_g and prev_p[prev_g.index(all_g[i])] != all_p[i]
        p_mm = all_p[i] in prev_p and prev_g[prev_p.index(all_p[i])] != all_g[i]
        if g_mm or p_mm:
            mm += 1

    ttp, tfp, tfn = tp_net - mm, fp_net + mm, fn_net + mm
    track = ttp / (ttp + (tfp + tfn) / 2.0) if ttp + (tfp + tfn) / 2.0 > 0 else 0.0
    change = (change_tp / (change_tp + (change_fp + change_fn) / 2.0)
              if change_tp + (change_fp + change_fn) / 2.0 > 0 else 0.0)
    combo = ((1 + beta * beta) * change * track / (beta * beta * change + track)
             if beta * beta * change + track > 0 else 0.0)
    return dict(aoi=aoi, mismatches=mm, track_tp=ttp, track_fp=tfp,
                track_fn=tfn, track_score=track, change_tp=change_tp,
                change_fp=change_fp, change_fn=change_fn,
                change_score=change, combo_score=combo)


def scot_scores(gt: DataFrame, prop: DataFrame, threshold: float = 0.25,
                base_reward: float = 100.0, beta: float = 2.0) -> DataFrame:
    """Distributed SCOT: gt/prop = (aoi, timestep, id, wkt); one group per
    AOI.  Overall score = avg(combo_score) over AOIs (scot.py:229)."""
    g = gt.select("aoi", "timestep", "id", "wkt", F.lit("gt").alias("kind"))
    p = prop.select("aoi", "timestep", "id", "wkt", F.lit("prop").alias("kind"))
    both = g.unionByName(p)

    def rows_of(rows):
        score = scot_one_aoi_np(rows, threshold, base_reward, beta)
        yield tuple(score[k] for k in SCOT_SCHEMA.names)

    return group_blobs(both, "aoi", SCOT_SCHEMA, rows_of)
