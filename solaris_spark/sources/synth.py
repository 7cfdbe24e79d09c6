"""Deterministic synthetic image+caption table generator.

Produces the canonical input table from BASELINE.json input_hint:

    images(image_id string, bytes binary, w int, h int, fmt string,
           caption string, phash long)

plus the georegistration sidecar and pixel-coordinate building labels:

    image_geo(image_id, a, b, c, d, e, f, epsg, nodata)
    labels(image_id, label_id, wkt_pix)

Everything is seeded by ``(seed, image_id)`` so any row can be regenerated
independently on any executor — generation happens INSIDE the UDFs
(images, sidecar and labels all through blobs.map_blobs),
so a 10^12-row table never materializes on the driver (driver only holds
the id range).  A special "fixture mirror" row reproduces the reference's
``sample_geotiff.tif`` pixels + ``sample.csv`` labels for exact parity tests
(solaris/tests/test_tile/test_tile.py, tests/test_vector/test_mask.py).
"""

from __future__ import annotations

import csv
import hashlib
import os

import numpy as np
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

from ..operators.blobs import map_blobs

FIXTURE_IMAGE_ID = "img_fixture_sample_geotiff"
FIXTURE_TIF = "/root/reference/solaris/data/sample_geotiff.tif"
FIXTURE_CSV = "/root/reference/solaris/data/sample.csv"
FIXTURE_TRANSFORM = (0.5, 0.0, 733601.0, 0.0, -0.5, 3725139.0)
FIXTURE_EPSG = 32616

IMAGES_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("bytes", T.BinaryType(), True),
    T.StructField("w", T.IntegerType(), True),
    T.StructField("h", T.IntegerType(), True),
    T.StructField("fmt", T.StringType(), True),
    T.StructField("caption", T.StringType(), True),
    T.StructField("phash", T.LongType(), True),
])

GEO_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("a", T.DoubleType(), True),
    T.StructField("b", T.DoubleType(), True),
    T.StructField("c", T.DoubleType(), True),
    T.StructField("d", T.DoubleType(), True),
    T.StructField("e", T.DoubleType(), True),
    T.StructField("f", T.DoubleType(), True),
    T.StructField("epsg", T.IntegerType(), True),
    T.StructField("nodata", T.DoubleType(), True),
])

LABELS_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("label_id", T.IntegerType(), False),
    T.StructField("wkt_pix", T.StringType(), True),
])

_ADJ = ["coastal", "arid", "urban", "rural", "forested", "industrial",
        "suburban", "mountainous", "riverine", "agricultural"]
_NOUN = ["rooftops", "roads", "parcels", "warehouses", "intersections",
         "buildings", "farmland", "marina", "stadium", "runway"]


def _rng_for(seed: int, image_id: str) -> np.random.Generator:
    h = hashlib.sha256(f"{seed}:{image_id}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def synth_image_row(seed: int, idx: int, min_px: int = 64,
                    max_px: int = 256) -> dict:
    """One deterministic image row (pure function — runs executor-side)."""
    image_id = f"img_{idx:012d}"
    rng = _rng_for(seed, image_id)
    w = int(rng.integers(min_px, max_px + 1))
    h = int(rng.integers(min_px, max_px + 1))
    # smooth-ish field so phash is meaningful: sum of separable gradients
    gx = rng.integers(0, 256, size=w, dtype=np.int32)
    gy = rng.integers(0, 256, size=h, dtype=np.int32)
    base = ((gy[:, None] + gx[None, :]) // 2).astype(np.uint8)
    noise = rng.integers(0, 32, size=(h, w), dtype=np.int32)
    px = np.clip(base.astype(np.int32) + noise, 0, 255).astype(np.uint8)
    px = np.stack([px, np.roll(px, 7, axis=0), np.roll(px, 13, axis=1)])
    caption = (f"satellite view of {_ADJ[int(rng.integers(len(_ADJ)))]} "
               f"{_NOUN[int(rng.integers(len(_NOUN)))]} tile {idx}")
    from ..functions.raster import phash64
    return {
        "image_id": image_id,
        "bytes": px.tobytes(),
        "w": w, "h": h,
        "fmt": "raw-u8-c3",
        "caption": caption,
        "phash": phash64(px),
    }


def synth_labels_for(seed: int, image_id: str, w: int, h: int,
                     min_labels: int = 2, max_labels: int = 8) -> list[str]:
    """Deterministic convex-ish building polygons in pixel coords (2 dp),
    some near-adjacent (contact-mask work), some crossing tile borders."""
    rng = _rng_for(seed + 1, image_id)
    n = int(rng.integers(min_labels, max_labels + 1))
    wkts = []
    for _ in range(n):
        cx = float(rng.uniform(0, w))
        cy = float(rng.uniform(0, h))
        rad = float(rng.uniform(3, max(w, h) / 6))
        k = int(rng.integers(4, 8))
        angs = np.sort(rng.uniform(0, 2 * np.pi, size=k))
        rs = rad * rng.uniform(0.6, 1.0, size=k)
        xs = np.round(cx + rs * np.cos(angs), 2)
        ys = np.round(cy + rs * np.sin(angs), 2)
        pts = ", ".join(f"{x:.2f} {y:.2f}" for x, y in zip(xs, ys))
        first = f"{xs[0]:.2f} {ys[0]:.2f}"
        wkts.append(f"POLYGON (({pts}, {first}))")
    return wkts


def images_table(spark: SparkSession, n_images: int, seed: int = 42,
                 include_fixture: bool = True,
                 partitions: int | None = None,
                 min_px: int = 64, max_px: int = 256) -> DataFrame:
    """Distributed deterministic generation: spark.range → a blob map of
    synth_image_row over the ids, output batches bounded at the session's
    Arrow batch size.  With include_fixture, the sample_geotiff mirror row
    (read from the reference fixture file) is appended."""
    if partitions is None:
        partitions = max(4, min(256, n_images // 64 or 4))

    def rows_of(r):
        row = synth_image_row(seed, r.id, min_px, max_px)
        yield tuple(row[k] for k in IMAGES_SCHEMA.names)

    df = map_blobs(spark.range(0, n_images, 1, partitions), IMAGES_SCHEMA,
                   rows_of)
    if include_fixture:
        df = df.unionByName(fixture_image_df(spark))
    return df


def fixture_image_df(spark: SparkSession) -> DataFrame:
    """The sample_geotiff.tif mirror row (only small fixture data touches the
    driver; regular rows never do)."""
    from ..functions.raster import phash64
    from ..functions.tiffio import read_tiff

    im = read_tiff(FIXTURE_TIF)
    arr = im.array  # (1, 900, 900) uint16
    row = {
        "image_id": FIXTURE_IMAGE_ID,
        "bytes": bytearray(arr.tobytes()),
        "w": 900, "h": 900,
        "fmt": "raw-u16-c1",
        "caption": "solaris sample geotiff fixture mirror",
        "phash": phash64(arr),
    }
    return spark.createDataFrame([row], schema=IMAGES_SCHEMA)


def image_geo_table(spark: SparkSession, images: DataFrame,
                    seed: int = 42) -> DataFrame:
    """Georegistration sidecar. Synthetic rows: 0.5 m/px north-up UTM grid,
    origin deterministic in zone 16; fixture row: the exact fixture affine."""

    def rows_of(r):
        if r.image_id == FIXTURE_IMAGE_ID:
            yield (r.image_id, *FIXTURE_TRANSFORM, FIXTURE_EPSG, 0.0)
        else:
            rng = _rng_for(seed + 2, r.image_id)
            ox = 700000.0 + float(rng.integers(0, 2000)) * 50.0
            oy = 3700000.0 + float(rng.integers(0, 2000)) * 50.0
            yield (r.image_id, 0.5, 0.0, ox, 0.0, -0.5, oy, FIXTURE_EPSG, 0.0)

    return map_blobs(images.select("image_id"), GEO_SCHEMA, rows_of)


def labels_table(spark: SparkSession, images: DataFrame, seed: int = 42,
                 min_labels: int = 2, max_labels: int = 8) -> DataFrame:
    """Pixel-coordinate polygon labels per image. Fixture row mirrors
    sample.csv's PolygonWKT_Pix column (151 footprints)."""

    def rows_of(r):
        if r.image_id == FIXTURE_IMAGE_ID:
            if os.path.exists(FIXTURE_CSV):
                with open(FIXTURE_CSV) as fh:
                    wkts = [c["PolygonWKT_Pix"] for c in csv.DictReader(fh)]
            else:
                wkts = []
        else:
            wkts = synth_labels_for(seed, r.image_id, r.w, r.h,
                                    min_labels, max_labels)
        for i, wkt in enumerate(wkts):
            yield (r.image_id, i, wkt)

    return map_blobs(images.select("image_id", "w", "h"), LABELS_SCHEMA,
                     rows_of)
