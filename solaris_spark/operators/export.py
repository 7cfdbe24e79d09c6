"""Export-format operators: YOLO label rows, COCO annotations, geometry
splitting/precision utilities.

Re-expresses:
- gdf_to_yolo          → solaris/vector/polygon.py:329-417 (px-normalized
                         bbox centers, min_overlap intersection filter)
- polygon_to_coco      → solaris/utils/geo.py:726-740 (flat coord list)
- bbox_corners_to_coco → utils/geo.py:707-723 ([minx, miny, w, h])
- split multi-geoms    → utils/geo.py:480-530 + 574-587 (explode + renumber)
- precision rounding   → utils/geo.py:590-594

All pure column math + one vectorized clip UDF — writers are plain
df.write.csv (the reference's one-txt-per-image becomes a partitioned
write by image_id).
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, Window

from ..functions import geom as G
from .blobs import map_blobs, scalar_udf


def yolo_labels(labels: DataFrame, images: DataFrame,
                class_col=None, min_overlap: float = 0.66) -> DataFrame:
    """labels(image_id, label_id, wkt_pix) ⋈ images(image_id, w, h) →
    (image_id, class_id, x, y, w, h) px-normalized, rows whose polygon
    overlaps the image raster by >= min_overlap (area ratio).
    Write with df.write.partitionBy('image_id').csv(sep=' ')."""
    j = labels.join(images.select("image_id", F.col("w").alias("im_w"),
                                  F.col("h").alias("im_h")), "image_id")

    @scalar_udf(T.StructType([
        T.StructField("xmin", T.DoubleType()), T.StructField("ymin", T.DoubleType()),
        T.StructField("xmax", T.DoubleType()), T.StructField("ymax", T.DoubleType()),
        T.StructField("area", T.DoubleType()), T.StructField("overlap", T.DoubleType()),
    ]))
    def geom_stats(wkt, im_w, im_h):
        polys = G.prepare_polygons(wkt)
        rows = []
        for rings, sas, area, bbox, w, h in zip(
                polys.rings, polys.signed, polys.area.tolist(),
                polys.bbox.tolist(), im_w, im_h):
            rect = (0.0, 0.0, float(w), float(h))
            inter = G.clip_polygon_rect(rings, rect, sas)[1]
            rows.append((*bbox, area, inter / area if area > 0 else 0.0))
        return rows

    # asNondeterministic: keeps the overlap filter from duplicating the
    # UDF across Filter and Project (same fix as vector_tiles' clip)
    geom_stats = geom_stats.asNondeterministic()
    j = j.withColumn("st", geom_stats("wkt_pix", "im_w", "im_h"))
    cls = F.col(class_col) if class_col else F.col("label_id")
    out = (j.filter((F.col("st.area") != 0)
                    & (F.col("st.overlap") >= min_overlap))
           .select(
               "image_id", cls.alias("class_id"),
               (((F.col("st.xmin") + F.col("st.xmax")) / 2.0) / F.col("im_w")).alias("x"),
               (((F.col("st.ymin") + F.col("st.ymax")) / 2.0) / F.col("im_h")).alias("y"),
               ((F.col("st.xmax") - F.col("st.xmin")) / F.col("im_w")).alias("w"),
               ((F.col("st.ymax") - F.col("st.ymin")) / F.col("im_h")).alias("h")))
    return out


def coco_annotations(labels: DataFrame, category_col=None) -> DataFrame:
    """Geometry → COCO rows: segmentation = flat [x0, y0, x1, y1, ...] of
    the exterior ring; bbox = [minx, miny, width, height]."""

    @scalar_udf(T.StructType([
        T.StructField("segmentation", T.ArrayType(T.DoubleType())),
        T.StructField("bbox", T.ArrayType(T.DoubleType())),
        T.StructField("area", T.DoubleType()),
    ]))
    def conv(wkt):
        rows = []
        for w in wkt:
            gtype, parts = G.wkt_parse(w)
            if gtype == "MULTIPOLYGON":
                raise ValueError(
                    "You have MultiPolygon types in your label df. Remove, "
                    "explode, or fix these to be Polygon geometry types.")
            ext = parts[0]
            xmin, ymin = ext.min(axis=0)
            xmax, ymax = ext.max(axis=0)
            rows.append(([float(v) for xy in ext for v in xy],
                         [float(xmin), float(ymin),
                          float(xmax - xmin), float(ymax - ymin)],
                         abs(G.ring_signed_area(ext))))
        return rows

    out = labels.withColumn("coco", conv("wkt_pix"))
    cat = F.col(category_col) if category_col else F.lit(1)
    return out.select(
        "image_id", F.col("label_id").alias("id"), cat.alias("category_id"),
        F.col("coco.segmentation").alias("segmentation"),
        F.col("coco.bbox").alias("bbox"), F.col("coco.area").alias("area"))


def coco_from_tile_dirs(spark, im_dir: str, gj_dir: str,
                        match_re: str = r"(\d+_\d+)") -> DataFrame:
    """geojson2coco over tile directories (solaris/data/coco.py:12-149):
    pair tile GeoTIFFs with tile GeoJSONs by a regex key, convert each
    label to the PIXEL frame of its matched tile via the tile affine, and
    emit COCO annotation rows with 1-based image ids in sorted-image order.

    The pairing is the manifest join (sources/dataset.py); the per-pair
    file reads + geo→px transform run on executors (blobs.map_blobs), so a
    100k-tile labeling job is one distributed pass."""
    import json

    from ..functions.tiffio import read_tiff
    from ..sources.dataset import make_dataset_manifest

    manifest = make_dataset_manifest(
        spark, im_dir, "tif", gj_dir, "geojson", match_re=match_re)
    # 1-based ids in sorted-image order, assigned DISTRIBUTED via a global
    # row_number — the single-partition sort carries only (image, label)
    # path strings, never pixels, and replaces the former driver-side
    # collect of the whole manifest (driver-bound at 10^8 tiles).
    from pyspark.sql import Window as _W
    jobs = (manifest
            .withColumn("img_id",
                        F.row_number().over(_W.orderBy("image")).cast("int"))
            .select("img_id", "image", "label"))
    # size the repartition from the manifest (pre-window) so the global
    # sort isn't evaluated twice
    n_pairs = manifest.count()

    out_schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("img_id", T.IntegerType()),
        T.StructField("label_id", T.IntegerType()),
        T.StructField("wkt_pix", T.StringType()),
    ])

    def rows_of(r):
        im = read_tiff(r.image)
        inv = G.affine_invert(tuple(float(v) for v in im.transform))
        with open(r.label) as fh:
            gj = json.load(fh)
        for i, f in enumerate(gj["features"]):
            g = f["geometry"]
            if g["type"] != "Polygon":
                continue
            rings = [G.affine_apply(np.asarray(rr, dtype=np.float64)[:, :2],
                                    inv) for rr in g["coordinates"]]
            yield (str(r.img_id), r.img_id, i, G.wkt_dump("POLYGON", rings))

    lab = map_blobs(jobs.repartition(max(4, min(n_pairs, 256))), out_schema,
                    rows_of)
    coco = coco_annotations(lab)
    return coco.withColumn("image_id", F.col("image_id").cast("int"))


def split_multi_geometries(labels: DataFrame, geom_col: str = "wkt",
                           group_col: str = "image_id") -> DataFrame:
    """Explode MultiPolygon/MultiLineString rows into single geometries and
    renumber per group (utils/geo.py:480-530: groupby.cumcount()+1)."""

    @scalar_udf(T.ArrayType(T.StringType()))
    def split(wkt):
        out = []
        for w in wkt:
            gtype, parts = G.wkt_parse(w)
            if gtype == "MULTIPOLYGON":
                out.append([G.wkt_dump("POLYGON", poly) for poly in parts])
            elif gtype == "MULTILINESTRING":
                out.append([G.wkt_dump("LINESTRING", [ls]) for ls in parts])
            else:
                out.append([w])
        return out

    e = labels.withColumn("_parts", split(F.col(geom_col))) \
        .withColumn(geom_col, F.explode("_parts")).drop("_parts")
    w = Window.partitionBy(group_col).orderBy(F.col(geom_col))
    return e.withColumn("geom_seq", F.row_number().over(w))


def round_geometry(labels: DataFrame, geom_col: str = "wkt",
                   precision: int = 2) -> DataFrame:
    """Precision rounding of every coordinate (utils/geo.py:590-594)."""

    @scalar_udf(T.StringType())
    def rnd(wkt):
        out = []
        for w in wkt:
            gtype, parts = G.wkt_parse(w)
            if gtype == "MULTIPOLYGON":
                parts = [[np.round(r, precision) for r in poly] for poly in parts]
            else:
                parts = [np.round(r, precision) for r in parts]
            out.append(G.wkt_dump(gtype, parts))
        return out

    return labels.withColumn(geom_col, rnd(F.col(geom_col)))
