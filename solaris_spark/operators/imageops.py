"""Image-level Spark operators: dtype preprocessing, stitching tiles back
into images, prediction binarization, channel statistics.

Re-expresses: imread/preprocess (utils/io.py), stitch_images
(raster/image.py:38-154 — distributed per image), preds_to_binary
(vector/mask.py:669-715), channel-wise mean fill values
(tile/raster_tile.py:479-483).
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from ..functions import imops, pixfmt
from .blobs import group_blobs, map_blobs, scalar_udf
from .masks import MASK_SCHEMA

# one image per row in any pixfmt format (to_uint8, resize_images, crop)
IMAGE_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("bytes", T.BinaryType(), True),
    T.StructField("w", T.IntegerType(), True),
    T.StructField("h", T.IntegerType(), True),
    T.StructField("fmt", T.StringType(), True),
])


def to_uint8(images: DataFrame, rescale: bool = False,
             rescale_min="auto", rescale_max="auto") -> DataFrame:
    """imread(make_8bit=True) as a blob map: decode, dtype heuristic,
    optional per-channel rescale, 8-bit output (fmt raw-u8-cN)."""

    def rows_of(r):
        yxc = np.moveaxis(pixfmt.decode(r.fmt, r.bytes, r.w, r.h), 0, -1)
        u8 = imops.preprocess_im_arr(yxc, imops.infer_format(yxc),
                                     rescale=rescale,
                                     rescale_min=rescale_min,
                                     rescale_max=rescale_max)
        chw = np.moveaxis(u8, -1, 0)
        yield (r.image_id, chw, r.w, r.h, pixfmt.raw_fmt(chw))

    return map_blobs(images.select("image_id", "bytes", "w", "h", "fmt"),
                     IMAGE_SCHEMA, rows_of)


STITCH_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("pixels", T.BinaryType(), True),
    T.StructField("h", T.IntegerType(), False),
    T.StructField("w", T.IntegerType(), False),
    T.StructField("nchan", T.IntegerType(), False),
    T.StructField("dtype", T.StringType(), False),
])


def _stitched_row(rows, refs, canvas, method):
    """The STITCH_SCHEMA row of one image: its tile rows decoded and
    stitched (imops.stitch_images) at their (row0, col0) ``refs`` onto a
    (h, w) ``canvas`` whose bottom-left img_h × img_w is the image."""
    r0 = rows[0]
    tiles = [np.moveaxis(pixfmt.decode(r.fmt, r.pixels, r.tw, r.th), 0, -1)
             for r in rows]
    out = imops.stitch_images(np.stack(tiles), idx_refs=refs,
                              out_width=canvas[1], out_height=canvas[0],
                              method=method)
    out = out[canvas[0] - r0.img_h:, :r0.img_w]
    return (r0.image_id, np.moveaxis(out, -1, 0), *out.shape,
            str(out.dtype))


def stitch_tiles(tiles: DataFrame, out_dims: DataFrame,
                 method: str = "average") -> DataFrame:
    """Reassemble per-image tiles into full images (stitch combine,
    SURVEY §2.4).  tiles: TILE_SCHEMA rows (tiling.raster_tiles output);
    out_dims: (image_id, w, h).  Tile placement comes from the tile's
    (tx, ty) grid indices × tile size — pixel-align guaranteed because both
    derive from the same arange grid.  Overlaps combine per `method`
    (average / first / confidence), exactly as raster/image.py:131-152."""
    t = tiles.join(out_dims.select("image_id", F.col("w").alias("img_w"),
                                   F.col("h").alias("img_h")), "image_id")

    def rows_of(rows):
        th, tw = rows[0].th, rows[0].tw
        max_ty = max(r.ty for r in rows)
        # grid ty ascends bottom-up (geo y), pixel rows go top-down; the grid
        # is anchored at the image's bottom edge, so the canvas may overhang
        # above the image top — stitch onto the canvas, then crop its bottom
        # H rows / left W cols.
        canvas = ((max_ty + 1) * th, (max(r.tx for r in rows) + 1) * tw)
        yield _stitched_row(
            rows, [((max_ty - r.ty) * th, r.tx * tw) for r in rows], canvas,
            method)

    return group_blobs(t, "image_id", STITCH_SCHEMA, rows_of)


def stitch_inference_tiles(tiles: DataFrame, out_dims: DataFrame,
                           method: str = "average") -> DataFrame:
    """Reassemble tiling.inference_tiles output (pixel-frame, (row0, col0)
    top-left refs) into full images — the stitch side of the reference's
    InferenceTiler round trip (raster/image.py:30-152 stitch_images over
    idx_refs).  Overlapping clamped edge tiles combine per `method`."""
    t = tiles.join(out_dims.select("image_id", F.col("w").alias("img_w"),
                                   F.col("h").alias("img_h")), "image_id")

    def rows_of(rows):
        yield _stitched_row(rows, [(r.row0, r.col0) for r in rows],
                            (rows[0].img_h, rows[0].img_w), method)

    return group_blobs(t, "image_id", STITCH_SCHEMA, rows_of)


def binarize_preds(masks: DataFrame, channel_scaling=None,
                   bg_threshold: float = 0.0) -> DataFrame:
    """preds_to_binary over a masks DataFrame (image_id, mask, h, w, nchan):
    per-row channel-scaled sum + threshold → single-channel uint8×255."""
    scaling = list(channel_scaling) if channel_scaling is not None else None

    def rows_of(r):
        arr = np.frombuffer(r.mask, dtype=np.uint8).reshape(r.h, r.w, r.nchan)
        yield (r.image_id, imops.preds_to_binary(arr, scaling, bg_threshold),
               r.h, r.w, 1, "binary")

    return map_blobs(masks.select("image_id", "mask", "h", "w", "nchan"),
                     MASK_SCHEMA, rows_of)


def channel_fill_values(images: DataFrame) -> DataFrame:
    """Channel-wise nanmean over each image — the fill-value computation of
    tile/raster_tile.py:479-483, as a vectorized UDF + select."""

    @scalar_udf(T.ArrayType(T.DoubleType()))
    def chan_means(b, w, h, fmt):
        out = []
        for buf, wi, hi, f in zip(b, w, h, fmt):
            arr = pixfmt.decode(f, buf, wi, hi)
            out.append([float(np.nanmean(c)) for c in arr.astype(np.float64)])
        return out

    return images.select("image_id",
                         chan_means("bytes", "w", "h", "fmt").alias("fill_values"))
