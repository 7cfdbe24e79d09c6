"""Mask generation as Spark operators: footprint / boundary / contact /
road / instance channels per image (or per tile).  image_masks, road_masks
and instance_masks group label rows by image and emit their masks through
blobs.group_blobs, in Arrow batches bounded at the session's 64 MB (one
instance_masks image can carry many label-sized masks);
masks_to_polygons emits scalar polygon rows through applyInPandas.

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
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from ..functions import geom as G
from ..functions import pixfmt
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
    `transform` converts geo→pixel when labels are in CRS coords."""
    inv = G.affine_invert(transform) if transform is not None else None
    ring_sets = []
    for w in wkts:
        rings = G.polygon_rings(w)
        if inv is not None:
            rings = [G.affine_apply(r, inv) for r in rings]
        ring_sets.append(rings)

    out = {}
    fp = None
    if set(channels) & {"footprint", "boundary", "contact"}:
        # one batched scanline pass over ALL footprints: rasterize_count_groups
        # sorts every label's crossings by one integer (label, row, column)
        # key and counts coverage per label; union == any coverage since
        # every shape burns the same value
        cnt_fp = R.rasterize_count_groups(ring_sets, shape)
        fp = np.where(cnt_fp > 0, np.uint8(burn_value), np.uint8(0))
    if "footprint" in channels:
        out["footprint"] = fp
    if "boundary" in channels:
        if boundary_type == "outer":
            b = R.dilation_square(fp, boundary_width) ^ fp
        else:
            b = R.erosion_square(fp, boundary_width) ^ fp
        out["boundary"] = (b > 0).astype(np.uint8) * burn_value
    if "contact" in channels:
        # every label's GEOS-parity offset curves (a collapsed label buffers
        # to a disc) in one geom.offset_curves pass, counted in one
        # nonzero-winding pass grouped by label: each covering label adds
        # exactly +1 per pixel, as a per-label rasterize_geos_buffer loop
        # would
        rings, groups = [], []
        for gi, label in enumerate(ring_sets):
            for r in label:
                if len(r) >= 4:
                    rings.append(r)
                    groups.append(gi)
        xy, offsets = G.offset_curves(rings, contact_spacing / 2.0)
        cnt = R.rasterize_count_packed(xy, offsets,
                                       np.asarray(groups, dtype=np.int64),
                                       len(ring_sets), shape, winding=True)
        c = (cnt >= 2) & (fp == 0)
        out["contact"] = c.astype(np.uint8) * burn_value
    return np.stack([out[c] for c in channels], axis=-1)


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
        arr = build_mask_arrays([r.wkt for r in rows if r.wkt is not None],
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
            if r.wkt is None:
                continue
            gtype, parts = G.wkt_parse(r.wkt)
            if gtype == "LINESTRING":
                lines.append(parts[0])
            elif gtype == "MULTILINESTRING":
                lines.extend(parts)
        zone = None
        if lines and meters and r0.epsg == 4326:
            allc = np.vstack(lines)
            zone = G.utm_zone_epsg(float(allc[:, 0].mean()),
                                   float(allc[:, 1].mean()))
        mask = np.zeros(shape, dtype=np.uint8)
        for ln in lines:
            if zone is not None:
                # buffer in metres, then lon/lat → pixels
                E, N = G.wgs84_to_utm(ln[:, 0], ln[:, 1], zone)
                curve = G.line_offset_curve(np.stack([E, N], axis=1),
                                            width / 2.0)
                lon, lat = G.utm_to_wgs84(curve[:, 0], curve[:, 1], zone)
                curve = G.affine_apply(np.stack([lon, lat], axis=1), inv)
            else:
                # CRS → pixels (no CRS: already pixels), then buffer
                curve = G.line_offset_curve(
                    G.affine_apply(ln, inv) if r0.epsg else ln, width / 2.0)
            # burn directly into the shared frame (O(bbox) traffic)
            R.rasterize_rings([curve], shape, out=mask, value=burn_value,
                              winding=True)
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

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        from ..functions import polygonize as P
        rows = []
        for _, r in pdf.iterrows():
            arr = np.frombuffer(r["mask"], dtype=np.uint8).reshape(
                int(r["h"]), int(r["w"]), int(r["nchan"]))[:, :, channel]
            transform = ((r["a"], r["b"], r["c"], r["d"], r["e"], r["f"])
                         if do_transform else None)
            polys = P.mask_to_polygons(arr, min_area=min_area,
                                       transform=transform,
                                       simplify_tol=simplify_tol)
            for i, (rings, val, area) in enumerate(polys):
                rows.append(dict(image_id=r["image_id"], poly_id=i,
                                 wkt=G.wkt_dump("POLYGON", rings),
                                 value=val, area=area))
        return pd.DataFrame(rows, columns=[f.name for f in POLYGONIZE_SCHEMA.fields])

    return src.groupBy("image_id").applyInPandas(run, schema=POLYGONIZE_SCHEMA)


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
    mask per label, zeroed where the joined image (``has_img``) equals its
    nodata value."""

    def rows_of(rows):
        r0 = rows[0]
        shape = (r0.h, r0.w)
        inv = G.affine_invert(_affine(r0)) if do_transform else None
        bad = None
        if has_img and r0.nodata is not None and not math.isnan(r0.nodata):
            arr = pixfmt.decode(r0.fmt, r0.bytes, r0.w, r0.h)
            bad = (arr == r0.nodata).any(axis=0)
        for r in rows:
            rings = G.polygon_rings(r.wkt)
            if inv is not None:
                rings = [G.affine_apply(ring, inv) for ring in rings]
            m = R.rasterize_rings(rings, shape, value=burn_value)
            if bad is not None:
                m = np.where(bad, 0, m)
            yield (r.image_id, r.label_id, m, shape[0], shape[1])

    return rows_of
