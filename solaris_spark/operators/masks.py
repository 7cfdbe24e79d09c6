"""Mask generation as Spark operators: footprint / boundary / contact /
road / instance channels per image (or per tile).  image_masks, road_masks
and instance_masks group label rows by image and emit their masks through
blobs.group_blobs, in Arrow batches bounded at the session's 4 MB
(session.py: small batches let Spark's encoding overlap the UDF; one
instance_masks image can carry many label-sized masks);
masks_to_polygons returns its scalar polygon rows through group_blobs too.

Re-expresses df_to_px_mask and friends (solaris/vector/mask.py:19-132,
135-236 footprint, 239-318 boundary, 321-444 contact, 447-564 road,
845-976 instance) — all pixel math in the NumPy kernels
(functions/raster.py), verified pixel-exact against the reference goldens.

Scale design: one group = one image's labels (KBs of WKT) producing one
mask (HxW bytes).  Groups shuffle only label rows; pixels are created
executor-side.  For 10^12 images the shuffle key is image_id (salting not
needed: label cardinality per image is small and uniform).
"""

from __future__ import annotations

import math

import numpy as np
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from ..functions import geom as G
from ..functions import pixfmt
from ..functions import polygonize as P
from ..functions import raster as R
from .blobs import group_blobs

MASK_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("mask", T.BinaryType(), True),
    T.StructField("h", T.IntegerType(), False),
    T.StructField("w", T.IntegerType(), False),
    T.StructField("nchan", T.IntegerType(), False),
    T.StructField("channels", T.StringType(), False),
])


def _affine(row) -> tuple:
    """The (a, b, c, d, e, f) affine of an images_geo-joined row."""
    return (row.a, row.b, row.c, row.d, row.e, row.f)


def build_mask_arrays(wkts: list[str], shape: tuple[int, int],
                      channels: list[str],
                      boundary_width: int = 3, boundary_type: str = "inner",
                      contact_spacing: float = 10.0,
                      burn_value: int = 255,
                      transform=None) -> np.ndarray:
    """(H, W, C) multi-channel mask for one image — df_to_px_mask parity.
    `transform` converts geo→pixel when labels are in CRS coords.

    One geom.pack_polygons parse of every label, one affine over the
    packed vertices, and one raster.rasterize_count_fields frame: the
    footprint layer (even-odd, grouped by label) counts in the low bit
    field; the contact layer (every ring's GEOS-parity offset curves of
    at least 4 vertices — a collapsed label buffers to a disc — filled
    nonzero-winding, grouped by label, each covering label adding exactly
    +1 per pixel) in the high one.  The footprint is the union (low field
    > 0, since every shape burns the same value), the contact is where at
    least two buffers meet off every footprint; each channel is written
    straight into the output, which reuses the spent frame's memory."""
    if not channels:
        raise ValueError("build_mask_arrays needs at least one channel")
    h, w = shape
    xy, offsets, groups = G.pack_polygons(wkts)
    if transform is not None:
        xy = G.affine_apply(xy, G.affine_invert(transform))
    layers = [(xy, offsets, groups, False)]
    if "contact" in channels:
        n = np.diff(offsets)
        keep = n >= 4
        if not keep.all():
            xy = xy[np.repeat(keep, n)]
            offsets = np.concatenate(([0], np.cumsum(n[keep])))
        cxy, coffsets = G.offset_curves(xy, offsets, contact_spacing / 2.0)
        layers.append((cxy, coffsets, groups[keep], True))
    frame, bits = R.rasterize_count_fields(layers, len(wkts), shape)
    made = {}
    if "contact" in channels:
        made["contact"] = frame >= (2 << bits)
        # contact read: from here the frame keeps its low field only
        np.bitwise_and(frame, (1 << bits) - 1, out=frame)
    made["footprint"] = fp = frame != 0
    if "contact" in channels:
        np.greater(made["contact"], fp, out=made["contact"])
    if "boundary" in channels:
        morph = (R.dilation_square if boundary_type == "outer"
                 else R.erosion_square)
        made["boundary"] = morph(fp, boundary_width) ^ fp
    # the spent frame, already resident, holds the output when it fits
    # (4 or 8 bytes a pixel): a fresh array would cost a page fault per
    # 4 KB of output
    buf = frame.view(np.uint8).reshape(-1)
    size = h * w * len(channels)
    out = (buf[:size] if size <= buf.size
           else np.empty(size, dtype=np.uint8)).reshape(h, w, len(channels))
    for k, name in enumerate(channels):
        out[..., k] = made[name].view(np.uint8)
    return np.multiply(out, np.uint8(burn_value), out=out)


def image_masks(labels: DataFrame, images_geo: DataFrame,
                channels=("footprint",), geom_col: str = "wkt_pix",
                do_transform: bool = False,
                boundary_width: int = 3, boundary_type: str = "inner",
                contact_spacing: float = 10.0,
                num_partitions: int | None = None) -> DataFrame:
    """Per-image multichannel masks.  labels: (image_id, <geom_col>);
    images_geo supplies (w, h) and, when do_transform, the affine.

    num_partitions: explicit shuffle width for the groupBy.  IMPORTANT at
    scale: the mask UDF is CPU-heavy but its INPUT rows are tiny (WKT
    strings), so AQE's size-based partition coalescing would collapse the
    stage to a handful of tasks and serialize the pixel work — a
    user-specified repartition pins the parallelism (AQE leaves it alone)."""
    channels = list(channels)
    dims = images_geo.select("image_id", "w", "h", "a", "b", "c", "d", "e", "f")
    lab = labels.select("image_id", F.col(geom_col).alias("wkt")).join(dims, "image_id")
    if num_partitions:
        lab = lab.repartition(num_partitions, "image_id")

    def rows_of(rows):
        r0 = rows[0]
        arr = build_mask_arrays([r.wkt for r in rows],
                                (r0.h, r0.w), channels,
                                boundary_width=boundary_width,
                                boundary_type=boundary_type,
                                contact_spacing=contact_spacing,
                                transform=_affine(r0) if do_transform
                                else None)
        yield (r0.image_id, arr, r0.h, r0.w, arr.shape[-1],
               ",".join(channels))

    return group_blobs(lab, "image_id", MASK_SCHEMA, rows_of)


def road_masks(roads: DataFrame, images_geo: DataFrame,
               width: float = 4.0, meters: bool = True,
               burn_value: int = 255) -> DataFrame:
    """Road masks (mask.py:447-564): buffer each linestring by width/2 in
    metric UTM (reprojecting lon/lat geometries to the centroid's UTM zone
    like utils/geo.reproject), rasterize the GEOS-parity offset curves in
    pixel space.  roads: (image_id, wkt) linestrings in the image CRS."""
    dims = images_geo.select("image_id", "w", "h", "a", "b", "c", "d", "e",
                             "f", "epsg")
    rd = roads.select("image_id", "wkt").join(dims, "image_id")

    def rows_of(rows):
        r0 = rows[0]
        shape = (r0.h, r0.w)
        inv = G.affine_invert(_affine(r0))
        lines = []
        for r in rows:
            if r.wkt is not None:
                gtype, parts = G.wkt_parse(r.wkt)
                if gtype in ("LINESTRING", "MULTILINESTRING"):
                    lines.extend(parts)   # an EMPTY line has no parts
        xy = np.concatenate(lines) if lines else np.empty((0, 2))
        offsets = np.concatenate(([0], np.cumsum([len(ln) for ln in lines],
                                                 dtype=np.int64)))
        radius = width / 2.0
        if lines and meters and r0.epsg == 4326:
            # buffer in metres in the UTM zone of all vertices' mean, then
            # lon/lat → pixels
            zone = G.utm_zone_epsg(float(xy[:, 0].mean()),
                                   float(xy[:, 1].mean()))
            E, N = G.wgs84_to_utm(xy[:, 0], xy[:, 1], zone)
            cxy, coffsets = G.offset_curves(
                *G.doubled_paths(np.stack([E, N], axis=1), offsets), radius)
            lon, lat = G.utm_to_wgs84(cxy[:, 0], cxy[:, 1], zone)
            cxy = G.affine_apply(np.stack([lon, lat], axis=1), inv)
        else:
            # CRS → pixels (no CRS: already pixels), then buffer
            cxy, coffsets = G.offset_curves(*G.doubled_paths(
                G.affine_apply(xy, inv) if r0.epsg else xy, offsets), radius)
        # one nonzero-winding count over every curve, one group each: the
        # union of same-value burns is any coverage
        cnt, _ = R.rasterize_count_fields(
            [(cxy, coffsets, np.arange(len(lines)), True)], len(lines), shape)
        mask = np.where(cnt > 0, np.uint8(burn_value), np.uint8(0))
        yield (r0.image_id, mask, shape[0], shape[1], 1, "road")

    return group_blobs(rd, "image_id", MASK_SCHEMA, rows_of)


POLYGONIZE_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("poly_id", T.IntegerType(), False),
    T.StructField("wkt", T.StringType(), True),
    T.StructField("value", T.DoubleType(), True),
    T.StructField("area", T.DoubleType(), True),
])


def masks_to_polygons(masks_df: DataFrame, min_area: float = 40.0,
                      do_transform: bool = False,
                      images_geo: DataFrame | None = None,
                      simplify_tol: float | None = None,
                      channel: int = 0) -> DataFrame:
    """mask_to_poly_geojson (solaris/vector/mask.py:718-818) as an operator:
    per-mask connected-component polygonization (functions/polygonize.py),
    min_area filter on the raw polygon, optional DP simplify.  Input rows:
    MASK_SCHEMA (image_id, mask, h, w, nchan)."""
    src = masks_df.select("image_id", "mask", "h", "w", "nchan")
    if do_transform:
        if images_geo is None:
            raise ValueError("do_transform requires images_geo")
        src = src.join(images_geo.select("image_id", "a", "b", "c",
                                         "d", "e", "f"), "image_id")

    def rows_of(rows):
        for r in rows:
            arr = np.frombuffer(r.mask, dtype=np.uint8).reshape(
                r.h, r.w, r.nchan)[:, :, channel]
            transform = ((r.a, r.b, r.c, r.d, r.e, r.f)
                         if do_transform else None)
            polys = P.mask_to_polygons(arr, min_area=min_area,
                                       transform=transform,
                                       simplify_tol=simplify_tol)
            for i, (rings, val, area) in enumerate(polys):
                yield (r.image_id, i, G.wkt_dump("POLYGON", rings), val, area)

    return group_blobs(src, "image_id", POLYGONIZE_SCHEMA, rows_of)


INSTANCE_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("label_id", T.IntegerType(), False),
    T.StructField("mask", T.BinaryType(), True),
    T.StructField("h", T.IntegerType(), False),
    T.StructField("w", T.IntegerType(), False),
])


def instance_masks(labels: DataFrame, images_geo: DataFrame,
                   geom_col: str = "wkt_pix", do_transform: bool = False,
                   burn_value: int = 255,
                   nodata_aware: bool = False,
                   images: DataFrame | None = None) -> DataFrame:
    """One mask channel per feature (mask.py:845-976) — emitted as one ROW
    per feature instead of a (H, W, N) cube: at 10^12 scale a per-feature
    row layout keeps Arrow batches bounded and lets downstream ops prune.
    When nodata_aware, pixels where the source image equals its nodata value
    are zeroed (requires `images` with bytes/fmt)."""
    dims = images_geo.select("image_id", "w", "h", "a", "b", "c", "d", "e",
                             "f", "nodata")
    lab = labels.select("image_id", "label_id",
                        F.col(geom_col).alias("wkt")).join(dims, "image_id")
    has_img = nodata_aware and images is not None
    if has_img:
        lab = lab.join(images.select("image_id", "bytes", "fmt"), "image_id")
    return group_blobs(lab, "image_id", INSTANCE_SCHEMA,
                       _instance_rows(do_transform, burn_value, has_img))


def _instance_rows(do_transform: bool, burn_value: int, has_img: bool):
    """INSTANCE_SCHEMA rows of one image's label rows: one rasterize_rings
    mask per label (all zero for a NULL or ``""`` geometry, as for an
    EMPTY one), zeroed where the joined image (``has_img``) equals its
    nodata value."""

    def rows_of(rows):
        r0 = rows[0]
        shape = (r0.h, r0.w)
        inv = G.affine_invert(_affine(r0)) if do_transform else None
        bad = None
        if has_img and r0.nodata is not None and not math.isnan(r0.nodata):
            arr = pixfmt.decode(r0.fmt, r0.bytes, r0.w, r0.h)
            bad = (arr == r0.nodata).any(axis=0)
        # one parse and one affine over the image's labels
        xy, offsets, groups = G.pack_polygons([r.wkt for r in rows])
        if inv is not None:
            xy = G.affine_apply(xy, inv)
        for r, label in zip(rows, G.ring_groups(xy, offsets, groups,
                                                len(rows))):
            m = R.rasterize_rings(label, shape, value=burn_value)
            if bad is not None:
                m = np.where(bad, 0, m)
            yield (r.image_id, r.label_id, m, shape[0], shape[1])

    return rows_of
