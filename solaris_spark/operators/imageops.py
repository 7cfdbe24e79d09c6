"""Image-level Spark operators: dtype preprocessing, stitching tiles back
into images, prediction binarization, channel statistics.

Re-expresses: imread/preprocess (utils/io.py), stitch_images
(raster/image.py:38-154 — distributed per image), preds_to_binary
(vector/mask.py:669-715), channel-wise mean fill values
(tile/raster_tile.py:479-483).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from ..functions import imops, pixfmt

UINT8_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("bytes", T.BinaryType(), True),
    T.StructField("w", T.IntegerType(), True),
    T.StructField("h", T.IntegerType(), True),
    T.StructField("fmt", T.StringType(), True),
])


def to_uint8(images: DataFrame, rescale: bool = False,
             rescale_min="auto", rescale_max="auto") -> DataFrame:
    """imread(make_8bit=True) as a mapInPandas operator: decode, dtype
    heuristic, optional per-channel rescale, 8-bit output (fmt raw-u8-cN)."""

    def run(batches):
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                arr = pixfmt.decode(r.fmt, r.bytes, r.w, r.h)  # (C, Y, X)
                yxc = np.moveaxis(arr, 0, -1)
                fmt = imops.infer_format(yxc)
                u8 = imops.preprocess_im_arr(yxc, fmt, rescale=rescale,
                                             rescale_min=rescale_min,
                                             rescale_max=rescale_max)
                payload, fmt = pixfmt.encode(np.moveaxis(u8, -1, 0), "raw")
                out.append(dict(image_id=r.image_id, bytes=payload,
                                w=r.w, h=r.h, fmt=fmt))
            yield pd.DataFrame(out)

    return images.select("image_id", "bytes", "w", "h", "fmt") \
        .mapInPandas(run, schema=UINT8_SCHEMA)


STITCH_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("pixels", T.BinaryType(), True),
    T.StructField("h", T.IntegerType(), False),
    T.StructField("w", T.IntegerType(), False),
    T.StructField("nchan", T.IntegerType(), False),
    T.StructField("dtype", T.StringType(), False),
])


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

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        r0 = pdf.iloc[0]
        H, W = int(r0["img_h"]), int(r0["img_w"])
        th, tw = int(r0["th"]), int(r0["tw"])
        max_ty = int(pdf["ty"].max())
        max_tx = int(pdf["tx"].max())
        # grid ty ascends bottom-up (geo y), pixel rows go top-down; the grid
        # is anchored at the image's bottom edge, so the canvas may overhang
        # above the image top — stitch onto the canvas, then crop its bottom
        # H rows / left W cols.
        canvas_h, canvas_w = (max_ty + 1) * th, (max_tx + 1) * tw
        arrs, refs = [], []
        for _, r in pdf.iterrows():
            a = pixfmt.decode(r["fmt"], r["pixels"], tw, th)
            arrs.append(np.moveaxis(a, 0, -1))
            refs.append(((max_ty - int(r["ty"])) * th, int(r["tx"]) * tw))
        out = imops.stitch_images(np.stack(arrs), idx_refs=refs,
                                  out_width=canvas_w, out_height=canvas_h,
                                  method=method)
        out = out[canvas_h - H:, :W]
        return pd.DataFrame([dict(image_id=r0["image_id"],
                                  pixels=np.moveaxis(out, -1, 0).tobytes(),
                                  h=H, w=W, nchan=out.shape[-1],
                                  dtype=str(out.dtype))])

    return t.groupBy("image_id").applyInPandas(run, schema=STITCH_SCHEMA)


def stitch_inference_tiles(tiles: DataFrame, out_dims: DataFrame,
                           method: str = "average") -> DataFrame:
    """Reassemble tiling.inference_tiles output (pixel-frame, (row0, col0)
    top-left refs) into full images — the stitch side of the reference's
    InferenceTiler round trip (raster/image.py:30-152 stitch_images over
    idx_refs).  Overlapping clamped edge tiles combine per `method`."""
    t = tiles.join(out_dims.select("image_id", F.col("w").alias("img_w"),
                                   F.col("h").alias("img_h")), "image_id")

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        r0 = pdf.iloc[0]
        H, W = int(r0["img_h"]), int(r0["img_w"])
        th, tw = int(r0["th"]), int(r0["tw"])
        arrs, refs = [], []
        for _, r in pdf.iterrows():
            a = pixfmt.decode(r["fmt"], r["pixels"], tw, th)
            arrs.append(np.moveaxis(a, 0, -1))
            refs.append((int(r["row0"]), int(r["col0"])))
        out = imops.stitch_images(np.stack(arrs), idx_refs=refs,
                                  out_width=W, out_height=H, method=method)
        return pd.DataFrame([dict(image_id=r0["image_id"],
                                  pixels=np.moveaxis(out, -1, 0).tobytes(),
                                  h=H, w=W, nchan=out.shape[-1],
                                  dtype=str(out.dtype))])

    return t.groupBy("image_id").applyInPandas(run, schema=STITCH_SCHEMA)


def binarize_preds(masks: DataFrame, channel_scaling=None,
                   bg_threshold: float = 0.0) -> DataFrame:
    """preds_to_binary over a masks DataFrame (image_id, mask, h, w, nchan):
    per-row channel-scaled sum + threshold → single-channel uint8×255."""
    scaling = list(channel_scaling) if channel_scaling is not None else None

    def run(batches):
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                arr = np.frombuffer(r.mask, dtype=np.uint8).reshape(
                    r.h, r.w, r.nchan)
                b = imops.preds_to_binary(arr, scaling, bg_threshold)
                out.append(dict(image_id=r.image_id, mask=b.tobytes(),
                                h=r.h, w=r.w, nchan=1,
                                channels="binary"))
            yield pd.DataFrame(out)

    from .masks import MASK_SCHEMA
    return masks.select("image_id", "mask", "h", "w", "nchan") \
        .mapInPandas(run, schema=MASK_SCHEMA)


def channel_fill_values(images: DataFrame) -> DataFrame:
    """Channel-wise nanmean over each image — the fill-value computation of
    tile/raster_tile.py:479-483, as a vectorized UDF + select."""

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def chan_means(b: pd.Series, w: pd.Series, h: pd.Series,
                   fmt: pd.Series) -> pd.Series:
        out = []
        for i in range(len(b)):
            arr = pixfmt.decode(fmt.iat[i], b.iat[i], int(w.iat[i]),
                                int(h.iat[i]))
            out.append([float(np.nanmean(c)) for c in arr.astype(np.float64)])
        return pd.Series(out)

    return images.select("image_id",
                         chan_means("bytes", "w", "h", "fmt").alias("fill_values"))
