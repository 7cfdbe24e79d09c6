"""The three benchmark workloads.

Each workload makes its inputs from the seed (``setup``), checks the
engine's outputs outside the timed passes (``check``), runs one timed pass
through the engine's public operators (``run_pass``) and times the NumPy
kernels that pass relies on, in-process, on the same generated inputs
(``kernels``).  All image and label inputs come from ``sources.synth`` with
``include_fixture=False``.
"""

from __future__ import annotations

import math
import statistics
import time
import zlib

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import Observation

from solaris_spark.functions import geom as G
from solaris_spark.functions import raster as R
from solaris_spark.operators import evalops, masks, tiling
from solaris_spark.plans import skew
from solaris_spark.sources import synth

from .trace import Tracer

TILE = (90, 90)
CHANNELS = ["footprint", "boundary", "contact"]
MINIOU = 0.5


class CheckFailed(AssertionError):
    pass


def expect(name: str, got, want, rel: float = 0.0) -> None:
    ok = (math.isclose(got, want, rel_tol=rel, abs_tol=1e-9) if rel
          else got == want)
    if not ok:
        raise CheckFailed(f"{name}: got {got!r}, expected {want!r}")


def sink(df, **aggs) -> dict:
    """Run ``df`` into the noop sink; return the aggregates observed on the
    way (computed in the same job, no extra pass over the data)."""
    obs = Observation()
    cols = [c.alias(k) for k, c in aggs.items()]
    df.observe(obs, *cols).write.format("noop").mode("overwrite").save()
    return obs.get


def timed_per_item(fn, items, min_s: float = 0.2) -> float:
    """Seconds per call of ``fn(item)``, repeated over ``items`` until at
    least ``min_s`` has passed; the median of the repeats."""
    reps = []
    t_end = time.perf_counter() + min_s
    while not reps or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        for it in items:
            fn(it)
        reps.append((time.perf_counter() - t0) / max(len(items), 1))
    return statistics.median(reps)


@F.pandas_udf(T.LongType())
def byte_sum(b: pd.Series) -> pd.Series:
    return pd.Series([int(np.frombuffer(x, np.uint8).sum(dtype=np.int64))
                      for x in b])


def _jitter(seed: int, drop: float, jit: float):
    """Predictions from GT: each polygon shifted by a seeded offset of at
    most ``jit`` of its bbox size, a seeded share ``drop`` left out.  Runs
    executor-side, so it closes over plain values only."""

    def gen(batches):
        for pdf in batches:
            out = []
            for img, rid, wkt in zip(pdf["image_id"], pdf["row_id"],
                                     pdf["wkt"]):
                rng = np.random.default_rng(
                    zlib.crc32(f"{seed}:{img}:{rid}".encode()))
                if rng.random() < drop:
                    continue
                rings = G.polygon_rings(wkt)
                pts = np.vstack(rings)
                d = rng.uniform(-jit, jit, size=2) * (pts.max(0) - pts.min(0))
                out.append((img, rid, G.wkt_dump(
                    "POLYGON", [np.round(r + d, 2) for r in rings])))
            yield pd.DataFrame(out, columns=["image_id", "row_id", "wkt"])

    return gen


class Workload:
    name = ""

    def __init__(self, spark, seed: int, cores: int, smoke: bool) -> None:
        self.spark = spark
        self.seed = seed
        self.cores = cores
        self.smoke = smoke
        self.expected: dict = {}     # counts every timed pass reproduces
        self.checksums: dict = {}    # recorded with the result, per seed
        self._cached: list = []

    def persist(self, df):
        df = df.persist()
        self._cached.append(df)
        return df

    def teardown(self) -> None:
        for df in self._cached:
            df.unpersist(blocking=True)
        self._cached = []

    def compare(self, counts: dict) -> None:
        """A timed pass must reproduce every count the check recorded."""
        for k, want in self.expected.items():
            expect(k, counts[k], want, rel=1e-9 if isinstance(want, float)
                   else 0.0)


class TileMask(Workload):
    """Raster tiles then footprint/boundary/contact masks, both to noop."""

    name = "tile_mask"

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.n_images = 4 if self.smoke else 32
        self.px = (128, 128) if self.smoke else (1000, 1000)
        self.n_labels = (16, 16) if self.smoke else (200, 200)

    def setup(self, tracer) -> None:
        spark, seed = self.spark, self.seed
        with tracer.span("sources.images"):
            images = self.persist(synth.images_table(
                spark, self.n_images, seed=seed, include_fixture=False,
                partitions=self.cores * 4,
                min_px=self.px[0], max_px=self.px[1]))
            geo = synth.image_geo_table(spark, images, seed=seed)
            self.ig = self.persist(tiling.with_geo(images, geo)
                                   .repartition(self.cores * 4, "image_id"))
            self.ig.count()
        with tracer.span("sources.labels"):
            self.labels = self.persist(synth.labels_table(
                spark, self.ig, seed=seed, min_labels=self.n_labels[0],
                max_labels=self.n_labels[1]))
            self.labels.count()

    def _tiles(self):
        return tiling.raster_tiles(self.ig, TILE)

    def _masks(self):
        return masks.image_masks(self.labels, self.ig, channels=CHANNELS,
                                 num_partitions=self.cores * 4)

    def run_pass(self, tracer) -> tuple[int, dict]:
        with tracer.span("operators.raster_tiles") as sp:
            t = sink(self._tiles(), tiles=F.count(F.lit(1)))
            if sp is not None:
                sp["rows"] = t["tiles"]
        with tracer.span("operators.image_masks") as sp:
            m = sink(self._masks(), masks=F.count(F.lit(1)))
            if sp is not None:
                sp["rows"] = m["masks"]
        counts = {"tiles": t["tiles"], "masks": m["masks"]}
        return counts["tiles"] + 3 * counts["masks"], counts

    def _sample(self):
        """The first image, regenerated in-process from the seed."""
        row = synth.synth_image_row(self.seed, 0, *self.px)
        g = self.ig.filter(F.col("image_id") == row["image_id"]) \
            .select("a", "b", "c", "d", "e", "f").first()
        arr = np.frombuffer(row["bytes"], np.uint8).reshape(
            3, row["h"], row["w"])
        wkts = synth.synth_labels_for(self.seed, row["image_id"], row["w"],
                                      row["h"], *self.n_labels)
        return row, tuple(g), arr, wkts

    @staticmethod
    def _grid(row, t):
        a, _, c, _, e, f = t
        bounds = (c, f + row["h"] * e, c + row["w"] * a, f)
        return G.split_geom_bounds(bounds, TILE, resolution=(a, -e))

    def check(self) -> None:
        dims = self.ig.select("w", "h").collect()
        n_tiles = sum(math.ceil(r.w / TILE[1]) * math.ceil(r.h / TILE[0])
                      for r in dims)
        img_sum = self.ig.agg(F.sum(byte_sum("bytes"))).first()[0]
        tiles = self._tiles().select(
            "image_id", F.crc32("pixels").alias("crc"),
            byte_sum("pixels").alias("s")).collect()
        expect("tile count", len(tiles), n_tiles)
        # tiles partition each image and pad with nodata 0, so every pixel
        # value lands in exactly one tile
        expect("tile pixel sum", sum(r.s for r in tiles), img_sum)

        row, t, arr, wkts = self._sample()
        local = sorted(zlib.crc32(R.cut_window(arr, t, tuple(b), TILE)[0]
                                  .tobytes()) for b in self._grid(row, t))
        spark_crc = sorted(r.crc for r in tiles
                           if r.image_id == row["image_id"])
        expect("sample tiles crc32", spark_crc, local)

        mk = self._masks().select(
            "image_id", F.crc32("mask").alias("crc"),
            F.when(F.col("image_id") == row["image_id"], F.col("mask"))
            .alias("mask")).collect()
        expect("mask count", len(mk), len(dims))
        want = masks.build_mask_arrays(wkts, (row["h"], row["w"]), CHANNELS)
        got = [bytes(r.mask) for r in mk if r.image_id == row["image_id"]]
        expect("sample mask bytes", got == [want.tobytes()], True)
        self.expected = {"tiles": n_tiles, "masks": len(dims)}
        self.checksums = {"tile_crc_sum": sum(r.crc for r in tiles),
                          "mask_crc_sum": sum(r.crc for r in mk)}

    def kernels(self) -> tuple[dict, float]:
        row, t, arr, wkts = self._sample()
        bounds = [tuple(b) for b in self._grid(row, t)]

        def cut(b):
            tile, _ = R.cut_window(arr, t, b, TILE, fill_value=0)
            R.nodata_fraction(tile, 0)

        cut_s = timed_per_item(cut, bounds)
        mask_s = timed_per_item(
            lambda w: masks.build_mask_arrays(w, (row["h"], row["w"]),
                                              CHANNELS), [wkts])
        per_pass = (cut_s * self.expected["tiles"]
                    + mask_s * self.expected["masks"])
        return {"functions.cut_window_us_per_tile": cut_s * 1e6,
                "functions.mask_fbc_ms_per_image": mask_s * 1e3}, per_pass


class LabelEval(Workload):
    """Vector tiles of the labels, then greedy IoU matching of seeded
    predictions against them and per-image scores."""

    name = "label_eval"
    GT_PER_IMAGE = 25   # the first labels of each image are the match's GT
    DROP = 0.1          # share of GT polygons with no prediction
    JITTER = 0.15       # max offset as a share of the polygon's bbox size
    FP_PER_IMAGE = 3

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.n_images = 4 if self.smoke else 64
        self.px = (128, 128) if self.smoke else (500, 500)
        self.n_labels = (16, 16) if self.smoke else (50, 50)
        self.n_gt = 8 if self.smoke else self.GT_PER_IMAGE

    def setup(self, tracer) -> None:
        spark, seed = self.spark, self.seed
        with tracer.span("sources.images"):
            images = self.persist(synth.images_table(
                spark, self.n_images, seed=seed, include_fixture=False,
                partitions=self.cores * 4,
                min_px=self.px[0], max_px=self.px[1])
                .select("image_id", "w", "h"))
            self.geo = self.persist(synth.image_geo_table(spark, images,
                                                          seed=seed))
            self.ig = tiling.with_geo(images, self.geo)
            self.grid = self.persist(tiling.tile_grid(self.ig, TILE))
            self.grid.count()
        with tracer.span("sources.labels"):
            self.labels = self.persist(synth.labels_table(
                spark, images, seed=seed, min_labels=self.n_labels[0],
                max_labels=self.n_labels[1]))
            self.gt = self.persist(
                self.labels.filter(F.col("label_id") < self.n_gt)
                .select("image_id",
                        F.col("label_id").cast("long").alias("row_id"),
                        F.col("wkt_pix").alias("wkt")))
            fp = synth.labels_table(spark, images, seed=seed + 7919,
                                    min_labels=self.FP_PER_IMAGE,
                                    max_labels=self.FP_PER_IMAGE) \
                .select("image_id",
                        (F.col("label_id") + 1_000_000).cast("long")
                        .alias("row_id"), F.col("wkt_pix").alias("wkt"))
            pred = self.gt.mapInPandas(
                _jitter(seed, self.DROP, self.JITTER),
                schema=self.gt.schema).unionByName(fp)
            conf = (F.pmod(F.hash("image_id", "row_id", F.lit(seed)),
                           F.lit(10007)) / 10007.0)
            self.pred = self.persist(pred.withColumn("conf", conf))
            self.n_pred = self.pred.count()
            self.n_gt_rows = self.gt.count()
            self.n_label_rows = self.labels.count()

    def _vector_tiles(self, lg):
        return tiling.vector_tiles(lg, self.grid)

    def run_pass(self, tracer) -> tuple[int, dict]:
        with tracer.span("operators.labels_geo") as sp:
            lg = tiling.labels_geo(self.labels, self.geo).persist()
            n_lg = lg.count()
            if sp is not None:
                sp["rows"] = n_lg
        try:
            with tracer.span("operators.vector_tiles") as sp:
                vt = sink(self._vector_tiles(lg),
                          label_tiles=F.count(F.lit(1)),
                          clip_area=F.sum("clip_area"))
                if sp is not None:
                    sp["rows"] = vt["label_tiles"]
        finally:
            lg.unpersist(blocking=True)
        with tracer.span("operators.greedy_iou_match") as sp:
            match = evalops.greedy_iou_match(self.gt, self.pred,
                                             miniou=MINIOU).persist()
            n_match = match.count()
            if sp is not None:
                sp["rows"] = n_match
        try:
            with tracer.span("operators.image_scores") as sp:
                sc = evalops.image_scores(match, miniou=MINIOU).agg(
                    F.count(F.lit(1)).alias("images"),
                    *[F.sum(k).alias(k)
                      for k in ("TruePos", "FalsePos", "FalseNeg")]).first()
                if sp is not None:
                    sp["rows"] = sc["images"]
        finally:
            match.unpersist(blocking=True)
        counts = {"labels_geo": n_lg, "label_tiles": vt["label_tiles"],
                  "clip_area": vt["clip_area"], "match_rows": n_match,
                  "TruePos": sc["TruePos"], "FalsePos": sc["FalsePos"],
                  "FalseNeg": sc["FalseNeg"]}
        return counts["label_tiles"] + n_match, counts

    def _sample(self):
        """The first image's labels, grid and predictions, from Spark's
        inputs (the sources layer is not what this check is about)."""
        img = synth.synth_image_row(self.seed, 0, *self.px)["image_id"]
        t = tuple(self.geo.filter(F.col("image_id") == img)
                  .select("a", "b", "c", "d", "e", "f").first())
        labels = [r.wkt_pix for r in self.labels
                  .filter(F.col("image_id") == img)
                  .orderBy("label_id").collect()]
        grid = [(r.xmin, r.ymin, r.xmax, r.ymax) for r in
                self.grid.filter(F.col("image_id") == img).collect()]
        gt = [(r.row_id, r.wkt) for r in
              self.gt.filter(F.col("image_id") == img).collect()]
        pred = [(r.row_id, r.wkt, r.conf) for r in
                self.pred.filter(F.col("image_id") == img).collect()]
        return img, t, labels, grid, gt, pred

    @staticmethod
    def _clip_pairs(labels_geo, grid):
        """(rings, rect) for every label/tile pair whose bboxes touch."""
        pairs = []
        for w in labels_geo:
            rings = G.polygon_rings(w)
            x0, y0, x1, y1 = G.geom_bounds(w)
            for rect in grid:
                if rect[0] <= x1 and rect[2] >= x0 and rect[1] <= y1 \
                        and rect[3] >= y0:
                    pairs.append((rings, rect))
        return pairs

    @staticmethod
    def _clip(pair):
        rings, rect = pair
        clipped = [G.clip_ring_rect(r, rect) for r in rings]
        area = abs(sum(abs(G.ring_signed_area(c))
                       * (1.0 if G.ring_signed_area(r) >= 0 else -1.0)
                       for c, r in zip(clipped, rings) if len(c)))
        return area, any(len(c) >= 4 for c in clipped)

    @staticmethod
    def _iou_setup(gt, pred):
        """Fan decompositions in one local frame plus the bbox-candidate
        (pred, gt) index pairs."""
        g_rings = [G.polygon_rings(w) for _, w in gt]
        p_rings = [G.polygon_rings(w) for _, w, _ in pred]
        allc = np.vstack([np.vstack(r) for r in g_rings + p_rings])
        origin = tuple(allc.mean(axis=0))
        g_tris = [G.fan_decompose(r, origin) for r in g_rings]
        p_tris = [G.fan_decompose(r, origin) for r in p_rings]
        box = [np.r_[np.vstack(r).min(0), np.vstack(r).max(0)]
               for r in g_rings]
        pairs = []
        for i, r in enumerate(p_rings):
            pb = np.r_[np.vstack(r).min(0), np.vstack(r).max(0)]
            for j, gb in enumerate(box):
                if gb[0] <= pb[2] and gb[2] >= pb[0] and gb[1] <= pb[3] \
                        and gb[3] >= pb[1]:
                    pairs.append((i, j))
        g_area = [abs(sum(G.ring_signed_area(x) for x in r)) for r in g_rings]
        p_area = [abs(sum(G.ring_signed_area(x) for x in r)) for r in p_rings]
        return g_tris, p_tris, g_area, p_area, pairs

    def _greedy(self, gt, pred) -> tuple[int, int, int]:
        """Reference greedy match of one image: predictions in conf-desc,
        row_id order each claim the alive GT of highest IoU (first in GT
        order on ties) when it exceeds ``MINIOU``."""
        gt = sorted(gt)
        order = sorted(range(len(pred)), key=lambda i: (-pred[i][2],
                                                        pred[i][0]))
        g_tris, p_tris, g_area, p_area, pairs = self._iou_setup(gt, pred)
        cands: dict[int, list[int]] = {}
        for i, j in pairs:
            cands.setdefault(i, []).append(j)
        alive = [True] * len(gt)
        tp = 0
        for i in order:
            best, best_j = -1.0, -1
            for j in sorted(cands.get(i, [])):
                if not alive[j]:
                    continue
                inter = G.tri_intersection_area(p_tris[i], g_tris[j])
                union = p_area[i] + g_area[j] - inter
                iou = inter / union if union > 0 else 0.0
                if iou > best:
                    best, best_j = iou, j
            if best > MINIOU:
                alive[best_j] = False
                tp += 1
        return tp, len(pred) - tp, sum(alive)

    def check(self) -> None:
        lg = tiling.labels_geo(self.labels, self.geo).persist()
        try:
            per_img = {r.image_id: r for r in self._vector_tiles(lg)
                       .groupBy("image_id")
                       .agg(F.count(F.lit(1)).alias("n"),
                            F.sum("clip_area").alias("area")).collect()}
        finally:
            lg.unpersist(blocking=True)
        match = evalops.greedy_iou_match(self.gt, self.pred, miniou=MINIOU)
        scores = {r.image_id: r for r in
                  evalops.image_scores(match, miniou=MINIOU).collect()}
        gt_n = {r.image_id: r["count"] for r in
                self.gt.groupBy("image_id").count().collect()}
        pr_n = {r.image_id: r["count"] for r in
                self.pred.groupBy("image_id").count().collect()}
        for img, s in scores.items():
            expect(f"{img} TP+FP", s.TruePos + s.FalsePos, pr_n[img])
            expect(f"{img} TP+FN", s.TruePos + s.FalseNeg, gt_n[img])

        img, t, labels, grid, gt, pred = self._sample()
        kept = [self._clip(p) for p in self._clip_pairs(
            [G.transform_wkt(w, t) for w in labels], grid)]
        kept = [a for a, ok in kept if ok and a > 0]
        expect("sample label tiles", per_img[img].n, len(kept))
        expect("sample clip area", per_img[img].area, math.fsum(kept),
               rel=1e-9)
        s = scores[img]
        expect("sample TP/FP/FN", (s.TruePos, s.FalsePos, s.FalseNeg),
               self._greedy(gt, pred))
        self.expected = {
            "labels_geo": self.n_label_rows,
            "label_tiles": sum(r.n for r in per_img.values()),
            "clip_area": math.fsum(r.area for r in per_img.values()),
            "match_rows": self.n_pred + self.n_gt_rows,
            "TruePos": sum(s.TruePos for s in scores.values()),
            "FalsePos": sum(s.FalsePos for s in scores.values()),
            "FalseNeg": sum(s.FalseNeg for s in scores.values())}

    def kernels(self) -> tuple[dict, float]:
        img, t, labels, grid, gt, pred = self._sample()
        tr_s = timed_per_item(
            lambda w: G.geom_bounds(G.transform_wkt(w, t)), labels)
        pairs = self._clip_pairs([G.transform_wkt(w, t) for w in labels],
                                 grid)
        clip_s = timed_per_item(self._clip, pairs)

        def iou_image(_):
            g_tris, p_tris, g_area, p_area, ij = self._iou_setup(gt, pred)
            for i, j in ij:
                G.tri_intersection_area(p_tris[i], g_tris[j])
            return len(ij)

        n_iou = iou_image(None)
        iou_s = timed_per_item(iou_image, [None]) / max(n_iou, 1)
        per_pass = self.n_images * (tr_s * len(labels) + clip_s * len(pairs)
                                    + iou_s * n_iou)
        return {"functions.transform_wkt_us_per_label": tr_s * 1e6,
                "functions.clip_us_per_pair": clip_s * 1e6,
                "functions.iou_us_per_pair": iou_s * 1e6}, per_pass


class HotCellJoin(Workload):
    """The hot-key join: 30 % of the fact rows on one cell, salted-joined to
    the cell table, sha2 work per row, then a groupBy.  JVM only."""

    name = "hot_cell_join"
    N_CELLS = 4096
    # The hot cell is fixed, not drawn from the seed: which shuffle partitions
    # its salted keys hash to sets the join stage's imbalance, and a seeded
    # hot cell moved throughput between seeds by up to 40 %.
    HOT_CELL = 0

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.n_rows = 20_000 if self.smoke else 1_000_000

    def setup(self, tracer) -> None:
        spark, seed = self.spark, self.seed
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        h = F.hash("id", F.lit(seed))
        with tracer.span("sources.facts"):
            self.big = self.persist(
                spark.range(0, self.n_rows, 1, self.cores * 4).select(
                    F.when(F.pmod(h, F.lit(10)) < 3,
                           F.lit(self.HOT_CELL))
                    .otherwise(F.pmod(F.hash("id", F.lit(seed + 1)),
                                      F.lit(self.N_CELLS))).alias("cell"),
                    F.pmod(F.hash("id", F.lit(seed + 2)), F.lit(997))
                    .cast("double").alias("v"), "id"))
            self.big.count()
        self.small = spark.range(self.N_CELLS).select(
            F.col("id").alias("cell"),
            (F.col("id") % 101 + 1).cast("double").alias("weight"))

    def _join(self):
        work = F.length(F.sha2(F.repeat(F.concat_ws(
            "|", F.col("id").cast("string"), F.col("v"), F.col("weight")),
            32), 512))
        return (skew.salted_join(self.big, self.small, "cell",
                                 n_salts=self.cores, salt_by="id")
                .groupBy("cell").agg(F.sum(work).alias("s")))

    def run_pass(self, tracer) -> tuple[int, dict]:
        with tracer.span("operators.salted_join") as sp:
            r = sink(self._join(), cells=F.count(F.lit(1)),
                     s=F.sum("s"))
            if sp is not None:
                sp["rows"] = r["cells"]
        return self.n_rows, {"cells": r["cells"], "s": r["s"]}

    def check(self) -> None:
        cells = self.big.select("cell").distinct().count()
        hot = self.big.filter(F.col("cell") == self.HOT_CELL) \
            .count() / self.n_rows
        if not 0.25 < hot < 0.35:
            raise CheckFailed(f"hot-cell share {hot:.3f} is not about 0.3")
        _, counts = self.run_pass(Tracer(None, "", False))
        # sha2-512 is always 128 hex digits: every fact row must join
        # exactly one cell row, once
        expect("cells", counts["cells"], cells)
        expect("sum s", counts["s"], 128 * self.n_rows)
        self.expected = {"cells": cells, "s": 128 * self.n_rows}

    def kernels(self) -> tuple[dict, float]:
        return {}, 0.0


WORKLOADS = {w.name: w for w in (TileMask, LabelEval, HotCellJoin)}
