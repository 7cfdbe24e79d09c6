"""Raster + vector tiling as Spark DataFrame operators.

Re-expresses (Spark-first, not a port):
- RasterTiler.tile        → solaris/tile/raster_tile.py:152-219 + 221-416
- VectorTiler.tile        → solaris/tile/vector_tile.py:39-195, clip_gdf :227-324
- tile grid               → solaris/utils/geo.py:743-837 (split_geom) —
                            np.arange float semantics preserved for exact
                            tile-ID parity with rastertile_test_expected/
- tile naming             → raster_tile.py:418-454 ({base}_{int(xmin)}_{int(ymax)}
                            for metric CRS, 3-dp rounding otherwise)

Scale design: tiling is embarrassingly parallel per image — the grid is
derived *inside* the UDF from the georegistration row (no grid shuffle, no
driver materialization).  The only shuffles in the whole pipeline are the
label⋈tile candidate equi-join (on (image_id, tx, ty) — prunable, salted for
hot images via joins.py helpers) and whatever aggregation the caller adds.

Pixels cross the Python boundary as Arrow, both ways.  Spark sends image
batches bounded at the session's ``maxBytesPerBatch`` (64 MB) and 10k
records (session.py); every blob-emitting operator here (the three raster
tilers, inference_tiles, fill_nodata) is a mapInArrow over
blobs.blob_batches, which reads input blobs in place and returns its tiles
in Arrow batches cut at the same 64 MB: each batch's pixels sit in one
contiguous buffer behind the binary column, no pandas in between.  The
package's other pixel-emitting operators (masks, stitching, image and
spectral maps, synthetic images, streaming ingest) leave Python the same
way, through blobs.map_blobs or its grouped twin blobs.group_blobs.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from ..functions import geom as G
from ..functions import pixfmt
from ..functions import raster as R
from .blobs import map_blobs


TILE_SCHEMA = T.StructType([
    T.StructField("tile_id", T.StringType(), False),
    T.StructField("image_id", T.StringType(), False),
    T.StructField("tx", T.IntegerType(), False),   # tile col index in grid
    T.StructField("ty", T.IntegerType(), False),   # tile row index in grid
    T.StructField("xmin", T.DoubleType(), False),
    T.StructField("ymin", T.DoubleType(), False),
    T.StructField("xmax", T.DoubleType(), False),
    T.StructField("ymax", T.DoubleType(), False),
    T.StructField("pixels", T.BinaryType(), True),
    T.StructField("th", T.IntegerType(), False),
    T.StructField("tw", T.IntegerType(), False),
    T.StructField("nchan", T.IntegerType(), False),
    T.StructField("fmt", T.StringType(), False),
    T.StructField("a", T.DoubleType(), False),
    T.StructField("e", T.DoubleType(), False),
    T.StructField("nodata_frac", T.DoubleType(), True),
])

GRID_SCHEMA = T.StructType([
    T.StructField("tile_id", T.StringType(), False),
    T.StructField("image_id", T.StringType(), False),
    T.StructField("tx", T.IntegerType(), False),
    T.StructField("ty", T.IntegerType(), False),
    T.StructField("xmin", T.DoubleType(), False),
    T.StructField("ymin", T.DoubleType(), False),
    T.StructField("xmax", T.DoubleType(), False),
    T.StructField("ymax", T.DoubleType(), False),
])


def tile_name(base: str, xmin: float, ymax: float, metric: bool = True) -> str:
    """raster_tile.py:425-434: int coords for metric CRS, else 3-dp round."""
    if metric:
        return f"{base}_{int(xmin)}_{int(ymax)}"
    return f"{base}_{np.round(xmin, 3)}_{np.round(ymax, 3)}"


def _grid_for_image(a, e, c, f, w, h, tile_yx, aoi_rings=None):
    """Exact split_geom grid for one image's bounds (np.arange semantics).
    With aoi_rings: bounds = AOI∩image bbox and non-touching cells dropped
    (split_geom's src_img intersection + is_empty filter)."""
    xmin, ymax = c, f
    xmax = c + w * a
    ymin = f + h * e  # e < 0
    if aoi_rings is not None:
        allc = np.vstack(aoi_rings)
        xmin = max(xmin, float(allc[:, 0].min()))
        xmax = min(xmax, float(allc[:, 0].max()))
        ymin = max(ymin, float(allc[:, 1].min()))
        ymax = min(ymax, float(allc[:, 1].max()))
    return G.split_geom_bounds((xmin, ymin, xmax, ymax), tile_yx,
                               resolution=(a, -e), geometry_rings=aoi_rings)


def with_geo(images: DataFrame, geo: DataFrame) -> DataFrame:
    """images ⋈ georegistration sidecar. The sidecar is thin (8 doubles/row);
    co-partitioned equi-join on image_id — broadcast when small."""
    return images.join(geo, "image_id")


def _grid_cells(tb: np.ndarray):
    """(bounds, tx, ty) per grid cell; tx / ty are the rank of the cell's
    xmin / ymax among the grid's distinct values, so grid-keyed operators
    downstream (vector_tiles candidate join, stitch placement) see distinct
    indices per tile."""
    tx = np.unique(tb[:, 0], return_inverse=True)[1]
    ty = np.unique(tb[:, 3], return_inverse=True)[1]
    return zip(tb, tx.tolist(), ty.tolist())


def _nodata(v) -> float:
    """An image's nodata value; a null column means 0."""
    return 0 if v is None or pd.isna(v) else v


def tile_grid(images_geo: DataFrame, tile_size: tuple[int, int]) -> DataFrame:
    """Grid-only DataFrame (no pixels) — cheap planning/join input."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                tb = _grid_for_image(row.a, row.e, row.c, row.f,
                                     row.w, row.h, tile_size)
                for t, tx, ty in _grid_cells(tb):
                    out.append(dict(
                        tile_id=tile_name(row.image_id, t[0], t[3]),
                        image_id=row.image_id, tx=tx, ty=ty,
                        xmin=t[0], ymin=t[1], xmax=t[2], ymax=t[3]))
            yield pd.DataFrame(out, columns=[f.name for f in GRID_SCHEMA.fields])

    return images_geo.select("image_id", "w", "h", "a", "e", "c", "f") \
        .mapInPandas(gen, schema=GRID_SCHEMA)


def _tile_rows(cells, tile_size, nodata_threshold, res):
    """TILE_SCHEMA rows of one input row: ``cells(row, nodata)`` yields
    (tile_id, tx, ty, bounds, tile) for every grid cell, tile being the
    (C, th, tw) pixels; tiles whose nodata fraction reaches
    ``nodata_threshold`` are dropped (raster_tile.py:189-204) and the rest
    carry their pixels as little-endian raw (pixfmt).  The tile pixel size
    (a, e) is the row's own unless ``res`` fixes it."""
    th, tw = tile_size

    def rows_of(row):
        nod = _nodata(row.nodata)
        a, e = res or (row.a, row.e)
        for tile_id, tx, ty, t, tile in cells(row, nod):
            nf = R.nodata_fraction(tile, nod)
            if nodata_threshold is not None and nf >= nodata_threshold:
                continue
            yield (tile_id, row.image_id, tx, ty, t[0], t[1], t[2], t[3],
                   tile, th, tw, tile.shape[0], pixfmt.raw_fmt(tile), a, e,
                   nf)

    return rows_of


def _emit_tiles(rows: DataFrame, tile_size: tuple[int, int],
                nodata_threshold: float | None, cells,
                res: tuple[float, float] | None = None) -> DataFrame:
    """The emit path shared by the raster tilers."""
    return map_blobs(rows, TILE_SCHEMA,
                     _tile_rows(cells, tile_size, nodata_threshold, res))


def raster_tiles(images_geo: DataFrame, tile_size: tuple[int, int],
                 nodata_threshold: float | None = None,
                 aoi_wkt: str | None = None) -> DataFrame:
    """Cut every image into fixed-size tiles (grid derived in-UDF; zero
    shuffle).  Mirrors RasterTiler.tile incl. boundless window fill with
    nodata (raster_tile.py:332-348), the nodata-fraction tile filter
    (:189-204), and AOI restriction (:169-181: pixels outside the AOI
    polygon become nodata — rasterio.mask semantics — and only
    AOI-touching grid cells are kept)."""
    aoi_rings = G.polygon_rings(aoi_wkt) if aoi_wkt else None
    cols = ["image_id", "bytes", "w", "h", "fmt",
            "a", "b", "c", "d", "e", "f", "nodata"]
    return _emit_tiles(images_geo.select(*cols), tile_size, nodata_threshold,
                       raster_cells(tile_size, aoi_rings))


def raster_cells(tile_size: tuple[int, int], aoi_rings=None):
    """raster_tiles' cells: decode the image, blank pixels outside the AOI,
    cut every grid cell with boundless nodata fill."""

    def cells(row, nod):
        arr = pixfmt.decode(row.fmt, row.bytes, row.w, row.h)
        transform = (row.a, row.b, row.c, row.d, row.e, row.f)
        if aoi_rings is not None:
            # zero out pixels whose centers fall outside the AOI
            inv = G.affine_invert(transform)
            rings_px = [G.affine_apply(r, inv) for r in aoi_rings]
            inside = R.rasterize_rings(rings_px, (row.h, row.w)) > 0
            arr = np.where(inside[None], arr, np.asarray(nod, dtype=arr.dtype))
        tb = _grid_for_image(row.a, row.e, row.c, row.f, row.w, row.h,
                             tile_size, aoi_rings=aoi_rings)
        for t, tx, ty in _grid_cells(tb):
            tile, tt = R.cut_window(arr, transform, tuple(t), tile_size,
                                    fill_value=nod)
            yield tile_name(row.image_id, tt[2], tt[5]), tx, ty, t, tile

    return cells


def raster_tiles_windowed(manifest_geo: DataFrame, tile_size: tuple[int, int],
                          nodata_threshold: float | None = None,
                          partitions: int | None = None,
                          level: int = 0) -> DataFrame:
    """File-backed tiling via BYTE-RANGE windowed reads — the COG access
    path (reference designed but never shipped it: solaris/utils/tile.py:
    34-158).  Input is a MANIFEST (image_id, path, w, h, a..f, nodata) —
    no pixel blobs.  The tile grid is derived first (tile_grid — metadata
    only), each (image, tile) becomes an independent job spread across
    tasks, and every task reads ONLY the TIFF strips overlapping its tile
    window (functions/tiffio.read_tiff_window).

    Two 100 TB wins over decode-whole-then-slice (raster_tiles — still the
    right path when pixels already sit in table blobs):
    - per-task I/O ∝ tile bytes, not image bytes: a 10 GB image never
      transits whole — on object stores these become HTTP Range GETs;
    - a mega-image's 10^5 tiles parallelize across the cluster instead of
      serializing inside one decode task (tile-density skew lever).
    The parsed header/IFD is cached per (executor process, file) in
    tiffio._META_CACHE, so each file's metadata is fetched once per
    worker, not once per tile task — on object stores those are
    round-trips.  Handles strip AND tiled layouts, uncompressed AND
    deflate, predictor 1/2 (the real COG interior format).

    Requires north-up manifests: rows with a rotated affine (b or d
    nonzero) raise, because the window inversion below is diagonal-only —
    raster_tiles (full-decode path) handles those via cut_window.

    ``level`` selects a COG overview IFD (0 = full resolution) — the
    zoomed-out tile-serving path.  The manifest's (w, h, a, e, c, f) must
    describe THAT level's grid (dims decimated, pixel size × factor);
    window coordinates are computed in the level's pixel space.

    Pixel output is byte-identical to raster_tiles on the same pixels
    (boundless edge tiles nodata-filled the same way)."""
    from ..functions.tiffio import read_tiff_window
    ty_px, tx_px = tile_size
    grid = tile_grid(manifest_geo, tile_size)
    meta = manifest_geo.select("image_id", "path", "b", "d", "c", "f",
                               "a", "e", "nodata")
    jobs = grid.join(F.broadcast(meta), "image_id")
    # ALWAYS spread the jobs: tile_grid preserves the manifest's input
    # partitioning and the meta join is broadcast (no shuffle), so without
    # this a 1-row manifest would keep a mega-image's 10^5 tile jobs in a
    # single task — the exact serialization this operator exists to avoid
    if partitions is None:
        partitions = int(manifest_geo.sparkSession.conf.get(
            "spark.sql.shuffle.partitions"))
    jobs = jobs.repartition(partitions, "tile_id")

    def cells(row, nod):
        if float(row.b or 0.0) != 0.0 or float(row.d or 0.0) != 0.0:
            raise ValueError(
                f"raster_tiles_windowed: image {row.image_id} has a "
                "rotated affine (b/d nonzero) — windowed reads "
                "require north-up rasters; use raster_tiles")
        col0 = int(round((row.xmin - row.c) / row.a))
        row0 = int(round((row.ymax - row.f) / row.e))
        win = read_tiff_window(row.path, row0, col0, ty_px, tx_px,
                               level=level)
        tile = np.full((win.array.shape[0], ty_px, tx_px), nod,
                       dtype=win.array.dtype)
        r0, c0, r1, c1 = win.tags["window"]
        tile[:, r0 - row0: r1 - row0, c0 - col0: c1 - col0] = win.array
        yield (row.tile_id, row.tx, row.ty,
               (row.xmin, row.ymin, row.xmax, row.ymax), tile)

    return _emit_tiles(jobs, tile_size, nodata_threshold, cells)


def raster_tiles_warped(images_geo: DataFrame, tile_size: tuple[int, int],
                        dest_epsg: int, dest_res: tuple[float, float],
                        nodata_threshold: float | None = None,
                        resampling: str = "bilinear") -> DataFrame:
    """CRS-changing tiling (raster_tile.py:298-310 + :350-387): grid is laid
    out in the DEST CRS over the image's reprojected bounds; each tile is
    produced by inverse-mapping warp (raster.warp) with `resampling` in
    {'nearest', 'bilinear', 'cubic'} — the reference's tiler forwards the
    same choice to rasterio (raster_tile.py:94-97; utils/geo.py:63-66).
    Default bilinear (the reference's tile-warp default path).
    Separate from raster_tiles so the identity-CRS fixture-parity path stays
    byte-exact."""

    def cells(row, nod):
        arr = pixfmt.decode(row.fmt, row.bytes, row.w, row.h)
        src_t = (row.a, row.b, row.c, row.d, row.e, row.f)
        src_epsg = int(row.epsg)
        # reproject the image corner ring to dest CRS for bounds
        corners = np.array([
            [0.0, 0.0], [row.w, 0.0], [row.w, row.h], [0.0, row.h],
            [0.0, 0.0]])
        geo = G.affine_apply(corners, src_t)
        if src_epsg != dest_epsg:
            lon, lat = G.to_wgs84(geo[:, 0], geo[:, 1], src_epsg)
            x, y = G.from_wgs84(lon, lat, dest_epsg)
            geo = np.stack([x, y], axis=1)
        bounds = (geo[:, 0].min(), geo[:, 1].min(),
                  geo[:, 0].max(), geo[:, 1].max())
        tb = G.split_geom_bounds(bounds, tile_size, resolution=dest_res)
        # tile indices from the DEST-CRS grid (ADVICE r01)
        for t, tx, ty in _grid_cells(tb):
            dst_t = (dest_res[0], 0.0, t[0], 0.0, -dest_res[1], t[3])
            tile = R.warp(arr, src_t, src_epsg, dst_t, dest_epsg, tile_size,
                          nodata=nod, resampling=resampling)
            yield tile_name(row.image_id, t[0], t[3]), tx, ty, t, tile

    cols = ["image_id", "bytes", "w", "h", "fmt",
            "a", "b", "c", "d", "e", "f", "epsg", "nodata"]
    return _emit_tiles(images_geo.select(*cols), tile_size, nodata_threshold,
                       cells, res=(dest_res[0], -dest_res[1]))


INFER_TILE_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("row0", T.IntegerType(), False),   # top-left pixel row
    T.StructField("col0", T.IntegerType(), False),   # top-left pixel col
    T.StructField("pixels", T.BinaryType(), False),
    T.StructField("th", T.IntegerType(), False),
    T.StructField("tw", T.IntegerType(), False),
    T.StructField("nchan", T.IntegerType(), False),
    T.StructField("fmt", T.StringType(), False),
])


def inference_tiles(images: DataFrame, tile_size: tuple[int, int],
                    y_step: int | None = None,
                    x_step: int | None = None) -> DataFrame:
    """Edge-clamped sliding inference window — the reference's
    InferenceTiler (nets/datagen.py:406-497) as a Spark operator: strided
    (y_step, x_step) window whose last row/col clamps to `dim − size` so
    every tile is full-size and the image edge is always covered.  Pixel
    frame, no georegistration needed; pairs with stitch_inference_tiles.
    Embarrassingly parallel per image (grid derived in-UDF, zero shuffle)."""
    th, tw = tile_size
    ys = y_step or th
    xs = x_step or tw

    def rows_of(row):
        arr = pixfmt.decode(row.fmt, row.bytes, row.w, row.h)
        h_img, w_img = row.h, row.w
        if h_img < th or w_img < tw:
            # the clamp formula goes negative here and would emit a short
            # pixel buffer labeled full-size (the reference InferenceTiler
            # crashes obscurely on this input too) — fail fast with the
            # offending image named
            raise ValueError(
                f"image {row.image_id} ({w_img}x{h_img}) is smaller "
                f"than the tile size ({tw}x{th}); pad or filter "
                "such images before inference_tiles")
        fmt = pixfmt.raw_fmt(arr)
        y_steps = int(1 + np.ceil((h_img - th) / ys))
        x_steps = int(1 + np.ceil((w_img - tw) / xs))
        for y in range(y_steps):
            r0 = h_img - th if ys * y + th > h_img else ys * y
            for x in range(x_steps):
                c0 = w_img - tw if xs * x + tw > w_img else xs * x
                yield (row.image_id, r0, c0, arr[:, r0:r0 + th, c0:c0 + tw],
                       th, tw, arr.shape[0], fmt)

    return map_blobs(images.select("image_id", "bytes", "w", "h", "fmt"),
                     INFER_TILE_SCHEMA, rows_of)


LABEL_TILE_SCHEMA = T.StructType([
    T.StructField("tile_id", T.StringType(), False),
    T.StructField("image_id", T.StringType(), False),
    T.StructField("label_id", T.IntegerType(), False),
    T.StructField("wkt_geo", T.StringType(), True),     # clipped, CRS coords
    T.StructField("wkt_tile_pix", T.StringType(), True),  # clipped, tile-local px
    T.StructField("origarea", T.DoubleType(), True),
    T.StructField("clip_area", T.DoubleType(), True),
    T.StructField("partialDec", T.DoubleType(), True),
    T.StructField("truncated", T.IntegerType(), False),
])


def labels_geo(labels: DataFrame, geo: DataFrame) -> DataFrame:
    """Pixel-coord labels → CRS coords via the image affine
    (georegister_px_df, solaris/vector/polygon.py:141-192).

    Emits `bbox` [xmin, ymin, xmax, ymax] computed in the SAME UDF pass —
    the geometry is already parsed here, so downstream spatial joins
    (vector_tiles candidates) skip a second full WKT parse."""
    lb = labels.join(geo, "image_id")

    @F.pandas_udf(T.StructType([
        T.StructField("wkt", T.StringType()),
        T.StructField("bbox", T.ArrayType(T.DoubleType())),
    ]))
    def to_geo(wkt: pd.Series, a: pd.Series, b: pd.Series, c: pd.Series,
               d: pd.Series, e: pd.Series, f: pd.Series) -> pd.DataFrame:
        ws, bs = [], []
        for i in range(len(wkt)):
            t = (a.iat[i], b.iat[i], c.iat[i], d.iat[i], e.iat[i], f.iat[i])
            w = G.transform_wkt(wkt.iat[i], t)
            ws.append(w)
            bs.append(list(G.geom_bounds(w)))
        return pd.DataFrame({"wkt": ws, "bbox": bs})

    return (lb.withColumn("_g", to_geo("wkt_pix", "a", "b", "c", "d", "e", "f"))
            .select("image_id", "label_id",
                    F.col("_g.wkt").alias("wkt_geo"),
                    F.col("_g.bbox").alias("bbox")))


def vector_tiles(labels_geo_df: DataFrame, grid: DataFrame,
                 min_partial_perc: float = 0.0,
                 tile_px: tuple[int, int] | None = None) -> DataFrame:
    """Clip label geometries to tile bounds — the reference's per-tile R-tree
    loop (vector_tile.py:198-324) re-expressed as ONE candidate equi-join +
    exact clip refine:

      1. candidates: each label's bbox → covering tile-index range (derived
         from the image affine, same float grid), exploded → equi-join with
         the grid on (image_id, tx, ty).  This is the engine's cell-key
         spatial-join pattern (SURVEY §2.3).
      2. refine: Sutherland–Hodgman rect clip; keep rows whose
         partialDec = clip_area/origarea > min_partial_perc
         (vector_tile.py:306-309); truncated = int(partialDec != 1.0).

    tile_px = (ty_px, tx_px) enables the tile-local pixel frame output
    (wkt_tile_pix) — the reference's output_type='px' path
    (vector_tile.py:191 + utils/geo.py affine_transform with the inverse
    tile affine): col = (x − xmin)/res_x, row = (ymax − y)/res_y with
    res derived from tile bounds / pixel size.  None keeps the column NULL.
    """
    # candidate tile indices from label bbox ⋈ grid bounds — computed by
    # joining on image_id with a bbox-range predicate is a theta join; to
    # stay equi, explode label bboxes into covering tile indices.
    #
    # The grid side feeds two bounded plans (the per-image span aggregate
    # and the broadcast/join build).  When the grid arrives over-split
    # (e.g. a cached frame inheriting a repartition(4×cores) from the
    # pixel pipeline), scanning it at that width costs a task dispatch per
    # sliver; coalesce down to cluster width — a no-op whenever the grid
    # is already at or below it (guide §6 small-inputs / task-overhead).
    width = grid.sparkSession.sparkContext.defaultParallelism
    if grid.rdd.getNumPartitions() > width:
        grid = grid.coalesce(width)
    g = grid.alias("g")
    lab = labels_geo_df.alias("l")

    if "bbox" not in labels_geo_df.columns:
        # labels that didn't come through labels_geo: derive bounds here
        @F.pandas_udf(T.ArrayType(T.DoubleType()))
        def bbox(wkt: pd.Series) -> pd.Series:
            return pd.Series([list(G.geom_bounds(w)) for w in wkt])

        lab = lab.withColumn("bbox", bbox("wkt_geo"))
    # tile span per image comes from the grid itself (min xmin, tile size)
    gdim = grid.groupBy("image_id").agg(
        F.min("xmin").alias("gx0"), F.min("ymin").alias("gy0"),
        F.first(F.col("xmax") - F.col("xmin")).alias("tsx"),
        F.first(F.col("ymax") - F.col("ymin")).alias("tsy"),
    )
    lab = lab.join(gdim, "image_id")
    # tile indices ascend with xmin / ymin (same ordering tile_grid assigns).
    # EXACT floor range — no ±1 pad: the half-open grid means a bbox edge
    # exactly on a tile boundary floors into the neighbor, where the clip
    # refine yields zero area and the strict partialDec filter drops it;
    # a pad would 9× the candidate rows fed to the clip UDF (VERDICT r01).
    lo_x = F.greatest(F.lit(0), F.floor((F.col("bbox")[0] - F.col("gx0")) / F.col("tsx")).cast("int"))
    hi_x = F.greatest(lo_x, F.floor((F.col("bbox")[2] - F.col("gx0")) / F.col("tsx")).cast("int"))
    lo_y = F.greatest(F.lit(0), F.floor((F.col("bbox")[1] - F.col("gy0")) / F.col("tsy")).cast("int"))
    hi_y = F.greatest(lo_y, F.floor((F.col("bbox")[3] - F.col("gy0")) / F.col("tsy")).cast("int"))
    lab = lab.withColumn("tx_arr", F.sequence(lo_x, hi_x)) \
             .withColumn("ty_arr", F.sequence(lo_y, hi_y))
    cand = (lab.withColumn("tx", F.explode("tx_arr"))
            .withColumn("ty", F.explode("ty_arr"))
            .select("image_id", "label_id", "wkt_geo", "tx", "ty"))
    joined = cand.join(g, ["image_id", "tx", "ty"])

    @F.pandas_udf(T.StructType([
        T.StructField("wkt_clip", T.StringType()),
        T.StructField("wkt_pix", T.StringType()),
        T.StructField("origarea", T.DoubleType()),
        T.StructField("clip_area", T.DoubleType()),
    ]))
    def clip(wkt: pd.Series, xmin: pd.Series, ymin: pd.Series,
             xmax: pd.Series, ymax: pd.Series) -> pd.DataFrame:
        wkts, pixs, oas, cas = [], [], [], []
        # a label spans ~3-4 candidate tiles, so its WKT recurs within the
        # batch: parse + signed areas once per distinct geometry (r6;
        # values reused verbatim, so results are unchanged)
        parsed: dict = {}
        for i in range(len(wkt)):
            w = wkt.iat[i]
            ent = parsed.get(w)
            if ent is None:
                rings = G.polygon_rings(w)
                sas = [G.ring_signed_area(r) for r in rings]
                ent = (rings, sas, abs(sum(sas)))
                parsed[w] = ent
            rings, sas, oa = ent
            rect = (xmin.iat[i], ymin.iat[i], xmax.iat[i], ymax.iat[i])
            clipped, ca = G.clip_polygon_rect(rings, rect, sas)
            wkts.append(G.wkt_dump("POLYGON", clipped) if clipped else None)
            oas.append(oa)
            cas.append(ca)
            if tile_px is not None and clipped:
                # inverse tile affine: geo → tile-local pixel frame
                rx = (rect[2] - rect[0]) / tile_px[1]
                ry = (rect[3] - rect[1]) / tile_px[0]
                px = [np.stack([(r[:, 0] - rect[0]) / rx,
                                (rect[3] - r[:, 1]) / ry], axis=1)
                      for r in clipped]
                pixs.append(G.wkt_dump("POLYGON", px))
            else:
                pixs.append(None)
        return pd.DataFrame({"wkt_clip": wkts, "wkt_pix": pixs,
                             "origarea": oas, "clip_area": cas})

    # asNondeterministic: the partialDec filter + the column projection
    # otherwise split the struct reference across Filter and Project and the
    # optimizer duplicates the UDF — every candidate was clipped TWICE
    # (two ArrowEvalPython nodes in the physical plan).
    clip = clip.asNondeterministic()
    joined = joined.withColumn("cl", clip("wkt_geo", "g.xmin", "g.ymin", "g.xmax", "g.ymax"))
    out = (joined
           .withColumn("origarea", F.col("cl.origarea"))
           .withColumn("clip_area", F.col("cl.clip_area"))
           .withColumn("partialDec", F.col("clip_area") / F.col("origarea"))
           .withColumn("truncated", (F.col("partialDec") != 1.0).cast("int"))
           .filter(F.col("cl.wkt_clip").isNotNull()
                   & (F.col("partialDec") > F.lit(min_partial_perc)))
           .withColumn("wkt_geo_clip", F.col("cl.wkt_clip")))

    return out.select(
        F.col("g.tile_id").alias("tile_id"), "image_id", "label_id",
        F.col("wkt_geo_clip").alias("wkt_geo"),
        F.col("cl.wkt_pix").alias("wkt_tile_pix"),
        "origarea", "clip_area", "partialDec", "truncated")


def fill_nodata(tiles: DataFrame, fill_values: DataFrame) -> DataFrame:
    """Replace nodata pixels in each tile with the image's per-channel fill
    values (geojsons_to_masks_and_fill_nodata, vector/mask.py:979-1060:
    fill = channel-wise means from raster_tile.py:479-483)."""
    t = tiles.join(fill_values, "image_id")

    def rows_of(r):
        arr = pixfmt.decode(r.fmt, r.pixels, r.tw, r.th).copy()
        nod = _nodata(getattr(r, "nodata", None))
        for ch in range(r.nchan):
            fv = r.fill_values[ch] if ch < len(r.fill_values) else 0.0
            band = arr[ch]
            band[band == nod] = np.asarray(fv, dtype=arr.dtype)
        pixels, fmt = pixfmt.encode(arr, r.fmt)
        yield (r.tile_id, r.image_id, r.tx, r.ty, r.xmin, r.ymin, r.xmax,
               r.ymax, pixels, r.th, r.tw, r.nchan, fmt, r.a, r.e, 0.0)

    return map_blobs(t, TILE_SCHEMA, rows_of)


def empty_tiles(grid: DataFrame, label_tiles: DataFrame) -> DataFrame:
    """Tiles with no labels — the reference writes empty GeoJSONs for these
    (vector_tile.py:109-112, utils/tile.py:13-31); expressed as an anti-join."""
    return grid.join(label_tiles.select("tile_id").distinct(), "tile_id", "left_anti")
