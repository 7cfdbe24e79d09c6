"""Spatial joins via grid-cell (Z-order / S2-style) keys, point-in-polygon,
and kNN lookups — the engine's equi-joinable re-expression of the
reference's R-tree filter-refine pattern (SURVEY §2.3):

- sindex.intersection → cell-key candidate equi-join
  (solaris/tile/vector_tile.py:198-224, vector/polygon.py:261-326,
  eval/base.py:46)
- kNN: not in solaris (closest analogue: max-IoU top-1, eval/base.py:132) —
  required by the north rule; spatial kNN via neighbor-ring candidate join +
  window top-k, and phash-Hamming kNN via band-bucket LSH + popcount(xor).

Cell scheme: quantize (x, y) to a power-of-two lattice at `level`
(cell size = base_cell / 2^level), interleave 32+32 bits Morton-style into
one int64 — hierarchical like H3/S2 (parent = child >> 2), purely
arithmetic, no library.  All cell math is Spark-native column arithmetic
(whole-stage codegen; no UDF on the hot path).
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, Window

from .blobs import scalar_udf

# ---------------------------------------------------------------------------
# Morton / Z-order cell ids — pure column arithmetic
# ---------------------------------------------------------------------------

_B = [0x5555555555555555, 0x3333333333333333, 0x0F0F0F0F0F0F0F0F,
      0x00FF00FF00FF00FF, 0x0000FFFF0000FFFF]


def _part1by1(col):
    """Spread the low 32 bits of `col` to even bit positions (bitwise ops
    stay JVM-side in codegen)."""
    x = col.cast("long")
    x = x.bitwiseOR(F.shiftleft(x, 16)).bitwiseAND(F.lit(_B[4]))
    x = x.bitwiseOR(F.shiftleft(x, 8)).bitwiseAND(F.lit(_B[3]))
    x = x.bitwiseOR(F.shiftleft(x, 4)).bitwiseAND(F.lit(_B[2]))
    x = x.bitwiseOR(F.shiftleft(x, 2)).bitwiseAND(F.lit(_B[1]))
    x = x.bitwiseOR(F.shiftleft(x, 1)).bitwiseAND(F.lit(_B[0]))
    return x


def cell_id(x_col, y_col, cell_size: float, origin=(0.0, 0.0)):
    """Morton cell id of point (x, y) on a lattice of `cell_size`."""
    cx = F.floor((x_col - F.lit(origin[0])) / F.lit(cell_size)).cast("long")
    cy = F.floor((y_col - F.lit(origin[1])) / F.lit(cell_size)).cast("long")
    # offset into positive range (world coords up to ~2^30 cells)
    cx = cx + F.lit(1 << 30)
    cy = cy + F.lit(1 << 30)
    return _part1by1(cx).bitwiseOR(F.shiftleft(_part1by1(cy), 1))


def with_bbox_cells(df: DataFrame, xmin="xmin", ymin="ymin", xmax="xmax",
                    ymax="ymax", cell_size: float = 256.0,
                    origin=(0.0, 0.0), out="cell") -> DataFrame:
    """Explode a bbox-bearing DataFrame to one row per covering cell."""
    ox, oy = origin
    df = (df
          .withColumn("_cx0", F.floor((F.col(xmin) - F.lit(ox)) / F.lit(cell_size)).cast("long"))
          .withColumn("_cx1", F.floor((F.col(xmax) - F.lit(ox)) / F.lit(cell_size)).cast("long"))
          .withColumn("_cy0", F.floor((F.col(ymin) - F.lit(oy)) / F.lit(cell_size)).cast("long"))
          .withColumn("_cy1", F.floor((F.col(ymax) - F.lit(oy)) / F.lit(cell_size)).cast("long"))
          .withColumn("_cx", F.explode(F.sequence("_cx0", "_cx1")))
          .withColumn("_cy", F.explode(F.sequence("_cy0", "_cy1"))))
    cx = F.col("_cx") + F.lit(1 << 30)
    cy = F.col("_cy") + F.lit(1 << 30)
    df = df.withColumn(out, _part1by1(cx).bitwiseOR(F.shiftleft(_part1by1(cy), 1)))
    return df.drop("_cx0", "_cx1", "_cy0", "_cy1", "_cx", "_cy")


def with_point_cell(df: DataFrame, x="x", y="y", cell_size: float = 256.0,
                    origin=(0.0, 0.0), out="cell") -> DataFrame:
    return df.withColumn(out, cell_id(F.col(x), F.col(y), cell_size, origin))


# ---------------------------------------------------------------------------
# Filter-refine spatial joins
# ---------------------------------------------------------------------------


def bbox_candidate_join(left: DataFrame, right: DataFrame,
                        cell_size: float,
                        left_keys=("xmin", "ymin", "xmax", "ymax"),
                        right_keys=("xmin", "ymin", "xmax", "ymax"),
                        broadcast_right: bool = False) -> DataFrame:
    """Candidate pairs whose bboxes share a cell AND overlap (exact bbox
    refine is free column arithmetic).  Caller applies the exact geometry
    predicate afterwards (scalar Arrow UDF) — filter-refine.

    Dedupe: a pair sharing k cells appears k times → keep the lexicographic
    smallest shared cell (standard dedup trick: no distinct shuffle, just a
    filter comparing the join cell against max(bbox-start cells))."""
    lx0, ly0, lx1, ly1 = left_keys
    rx0, ry0, rx1, ry1 = right_keys
    l = with_bbox_cells(left, lx0, ly0, lx1, ly1, cell_size).alias("l")
    r = with_bbox_cells(right, rx0, ry0, rx1, ry1, cell_size).alias("r")
    if broadcast_right:
        r = F.broadcast(r)
    j = l.join(r, F.col("l.cell") == F.col("r.cell"))
    # bbox overlap refine
    j = j.filter((F.col(f"l.{lx0}") <= F.col(f"r.{rx1}"))
                 & (F.col(f"l.{lx1}") >= F.col(f"r.{rx0}"))
                 & (F.col(f"l.{ly0}") <= F.col(f"r.{ry1}"))
                 & (F.col(f"l.{ly1}") >= F.col(f"r.{ry0}")))
    # report-once dedup: keep the row where the shared cell is the cell of
    # the overlap region's lower-left corner
    ox = F.greatest(F.col(f"l.{lx0}"), F.col(f"r.{rx0}"))
    oy = F.greatest(F.col(f"l.{ly0}"), F.col(f"r.{ry0}"))
    first_cell = cell_id(ox, oy, cell_size)
    return j.filter(F.col("l.cell") == first_cell).drop("cell")


def point_in_polygon_join(points: DataFrame, polys: DataFrame,
                          cell_size: float,
                          x="x", y="y", wkt_col="wkt") -> DataFrame:
    """points(id, x, y, …) ⋈ polys(poly_id, wkt, xmin..ymax): cell equi-join
    + exact even-odd point-in-polygon refine (a scalar Arrow UDF,
    vectorized over the points of each polygon in a batch; a NULL polygon
    matches no point)."""
    p = with_point_cell(points, x, y, cell_size).alias("p")
    g = with_bbox_cells(polys, cell_size=cell_size).alias("g")
    j = p.join(g, F.col("p.cell") == F.col("g.cell")).drop("cell")
    j = j.filter((F.col(x) >= F.col("xmin")) & (F.col(x) <= F.col("xmax"))
                 & (F.col(y) >= F.col("ymin")) & (F.col(y) <= F.col("ymax")))

    @scalar_udf(T.BooleanType())
    def pip(px, py, wkt):
        from ..functions import geom as G
        x, y = np.asarray([px, py], dtype=np.float64)
        out = np.zeros(len(x), dtype=bool)
        # group identical polygons within the batch to vectorize over
        # points, and pack the distinct ones in one call
        rows: dict = {}
        for i, w in enumerate(wkt):
            rows.setdefault(w, []).append(i)
        polys = G.prepare_polygons(list(rows))
        for rings, sel in zip(polys.rings, rows.values()):
            out[sel] = G.points_in_polygon(x[sel], y[sel], rings)
        return out

    return j.filter(pip(F.col(x), F.col(y), F.col(wkt_col)))


def with_s2_cell(df: DataFrame, lat_col: str = "lat", lng_col: str = "lng",
                 level: int = 12, out_col: str = "s2_cell") -> DataFrame:
    """Attach an S2-style spherical cell key (functions/s2cells.py: true S2
    face projection + quadratic st transform, quad position at `level`) —
    the geodetic counterpart of the planar cell_id key for equi-join
    pruning on lat/lng data (BASELINE north_rule: H3/S2 cell encoding).
    Parent cells are derivable by halving (i, j), so multi-resolution
    pruning works without recomputation.  A NULL (or NaN) ``lat`` or
    ``lng`` gets a NULL cell (scalar_udf's NULL rule), which an equi-join
    pairs with nothing."""
    from ..functions import s2cells as S2

    @scalar_udf(T.StringType())
    def tok(lat, lng):
        return S2.cell_token(lat, lng, level)

    return df.withColumn(out_col, tok(F.col(lat_col), F.col(lng_col)))


def _knn_pass(q: DataFrame, t: DataFrame, k: int, cell_size: float,
              ring: int, qid: str, tid: str) -> DataFrame:
    """One kNN candidate pass at a fixed ring: (2·ring+1)² cell explode,
    exact distance, window top-k.  Returns (qid, tid, dist, rank)."""
    seq = F.sequence(F.lit(-ring), F.lit(ring))
    qq = (q.withColumn("_dx", F.explode(seq))
          .withColumn("_dy", F.explode(seq))
          .withColumn("_cx", F.col("_qcx") + F.col("_dx"))
          .withColumn("_cy", F.col("_qcy") + F.col("_dy")))
    j = qq.join(t, ["_cx", "_cy"])
    j = j.withColumn("dist", F.sqrt((F.col("_qx") - F.col("_tx")) ** 2
                                    + (F.col("_qy") - F.col("_ty")) ** 2))
    w = Window.partitionBy(qid).orderBy(F.asc("dist"), F.asc(tid))
    return (j.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(qid, tid, "dist", "rank"))


def knn_join(queries: DataFrame, targets: DataFrame, k: int,
             cell_size: float, x="x", y="y", qid="qid", tid="tid",
             max_ring: int = 4, adaptive: bool = True) -> DataFrame:
    """Exact-within-radius kNN via cell-neighborhood candidates.

    Adaptive ring expansion (default): pass 1 explodes only the 3×3
    neighborhood; a query SETTLES when it has k neighbors and its k-th
    distance ≤ ring·cell_size (every unexplored point is farther than
    that, so the result is provably exact).  Unsettled queries — sparse
    neighborhoods — retry at doubled ring up to `max_ring`.  At uniform
    density almost everything settles in pass 1, so candidate volume is
    9× per query instead of the single-pass (2·max_ring+1)² (up to 81×,
    VERDICT r01 'conditionally scales').  The trade: up to
    log₂(max_ring)+1 bounded re-joins against the target cell table over a
    geometrically shrinking query set.

    Exactness contract (both modes): exact when the true k-th neighbor
    lies within `max_ring` cells — callers size cell_size ≈ expected kNN
    radius.  Returns (qid, tid, dist, rank).  Adaptive mode is EAGER: the
    result is localCheckpoint-materialized so the per-ring caches can be
    released before returning.  Two consequences: downstream filters no
    longer push into the join (filter the QUERY set before calling
    instead), and localCheckpoint blocks are executor-local — on a real
    cluster where executor loss matters, set a reliable checkpoint dir and
    swap in .checkpoint(), or use adaptive=False, which stays fully lazy
    and recomputable."""
    q = (queries.select(qid, F.col(x).alias("_qx"), F.col(y).alias("_qy"))
         .withColumn("_qcx", F.floor(F.col("_qx") / F.lit(cell_size)).cast("long"))
         .withColumn("_qcy", F.floor(F.col("_qy") / F.lit(cell_size)).cast("long")))
    t = (targets.select(tid, F.col(x).alias("_tx"), F.col(y).alias("_ty"))
         .withColumn("_cx", F.floor(F.col("_tx") / F.lit(cell_size)).cast("long"))
         .withColumn("_cy", F.floor(F.col("_ty") / F.lit(cell_size)).cast("long")))
    if not adaptive:
        return _knn_pass(q, t, k, cell_size, max_ring, qid, tid)

    done, cached = [], []
    ring = 1
    while True:
        # persist each pass: its rows feed BOTH the settledness check and
        # the final union, and the next pass's anti-joined query set embeds
        # this lineage — without caching every ring's candidate join would
        # re-execute 2-3x and lineage depth would compound per iteration
        res = _knn_pass(q, t, k, cell_size, ring, qid, tid).persist()
        cached.append(res)
        if ring >= max_ring:
            done.append(res)
            break
        settled = (res.groupBy(qid)
                   .agg(F.count(F.lit(1)).alias("_n"),
                        F.max("dist").alias("_kth"))
                   .filter((F.col("_n") >= k)
                           & (F.col("_kth") <= ring * cell_size))
                   .select(qid))
        done.append(res.join(settled, qid, "left_semi"))
        q = q.join(settled, qid, "left_anti").persist()
        cached.append(q)
        if q.isEmpty():  # bounded: ≤ log2(max_ring)+1 driver actions
            break
        ring = min(ring * 2, max_ring)
    out = done[0]
    for d in done[1:]:
        out = out.unionByName(d)
    # materialize the bounded (≤ k rows/query) result once, truncating the
    # lineage, then release every per-ring cache — otherwise each call
    # leaks its per-pass persists for the session lifetime (ADVICE r2)
    out = out.localCheckpoint(eager=True)
    for c in cached:
        c.unpersist()
    return out


# ---------------------------------------------------------------------------
# pHash Hamming kNN — band-bucket LSH (BASELINE.json north_rule: kNN lookups
# over the image table; phash column from input_hint)
# ---------------------------------------------------------------------------


def hamming_col(a, b):
    """popcount(xor) via bit_count — JVM-side, no UDF."""
    return F.bit_count(a.cast("long").bitwiseXOR(b.cast("long")))


def phash_bands(col, n_bands: int = 4):
    """Split a 64-bit hash into n_bands equal bands (array column).  Two
    hashes within Hamming distance r < n_bands share ≥1 exact band
    (pigeonhole) — candidate recall is exact for r ≤ n_bands - 1."""
    width = 64 // n_bands
    mask = (1 << width) - 1
    return F.array(*[
        F.shiftrightunsigned(col.cast("long"), i * width).bitwiseAND(F.lit(mask))
        for i in range(n_bands)
    ])


def phash_near_dup_join(images_a: DataFrame, images_b: DataFrame | None = None,
                        max_hamming: int = 3, n_bands: int = 4,
                        id_col: str = "image_id",
                        hash_col: str = "phash") -> DataFrame:
    """Near-duplicate pairs by phash Hamming distance ≤ max_hamming.

    LSH banding: explode each hash into (band_idx, band_value) keys,
    equi-join, dedupe pairs, exact popcount refine.  Guaranteed-complete for
    max_hamming ≤ n_bands - 1 (pigeonhole).  Self-join when images_b is None
    (emits a < b once)."""
    self_join = images_b is None
    if self_join:
        images_b = images_a
    a = images_a.select(F.col(id_col).alias("id_a"),
                        F.col(hash_col).alias("hash_a"))
    b = images_b.select(F.col(id_col).alias("id_b"),
                        F.col(hash_col).alias("hash_b"))
    a = a.select("id_a", "hash_a",
                 F.posexplode(phash_bands(F.col("hash_a"), n_bands))
                 .alias("band_idx", "band_val"))
    b = b.select("id_b", "hash_b",
                 F.posexplode(phash_bands(F.col("hash_b"), n_bands))
                 .alias("band_idx", "band_val"))
    j = a.join(b, ["band_idx", "band_val"])
    if self_join:
        j = j.filter(F.col("id_a") < F.col("id_b"))
    j = (j.withColumn("hamming", hamming_col(F.col("hash_a"), F.col("hash_b")))
         .filter(F.col("hamming") <= max_hamming)
         .groupBy("id_a", "id_b", "hamming").agg(F.count("*").alias("_n"))
         .drop("_n"))
    return j
