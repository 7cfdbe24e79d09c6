#!/usr/bin/env python
"""spark-submit entry point for the full tile+mask+match pipeline.

Cluster usage (north rule: "run via spark-submit --py-files"):

    cd /root/repo && zip -qr /tmp/solaris_spark.zip solaris_spark
    spark-submit --master <cluster> \
        --conf spark.python.unix.domain.socket.enabled=true \
        --py-files /tmp/solaris_spark.zip \
        scripts/run_pipeline.py \
        --images 64 --out /tmp/pipeline_out --resume-run run1

The ``--conf`` puts the Python workers on Unix domain sockets (see
solaris_spark/session.py) also when the script reuses a session made
before it, whose SparkContext ``get_spark``'s configs cannot reach.

Local sandbox: plain `python scripts/run_pipeline.py` (master local[N]
from SPARK_GRAFT_CPUS).  The job is checkpoint-resumable: partition
progress is committed to <out>/lineage and re-runs skip committed
partitions (kill it mid-run and start again to see).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--images", type=int, default=32)
    ap.add_argument("--out", default="/tmp/solaris_pipeline_out")
    ap.add_argument("--tile", type=int, default=90)
    ap.add_argument("--resume-run", default="run1")
    ap.add_argument("--n-parts", type=int, default=16)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    import pyspark.sql.functions as F
    from solaris_spark.operators import masks, tiling
    from solaris_spark.plans import lineage
    from solaris_spark.sources import synth

    # a session made before this script (a shell, a notebook) is reused;
    # otherwise get_spark builds one, under spark-submit too
    try:
        spark = SparkSession.getActiveSession()
    except Exception:
        spark = None
    if spark is None:
        from solaris_spark.session import get_spark
        spark = get_spark(app_name="solaris_pipeline")

    images = synth.images_table(spark, args.images)
    geo = synth.image_geo_table(spark, images)
    ig = tiling.with_geo(images, geo)
    labels = synth.labels_table(spark, images)

    def transform(part):
        part_ig = part  # images+geo rows of this partition
        tiles = tiling.raster_tiles(part_ig, (args.tile, args.tile))
        return tiles.select("tile_id", "image_id", "tx", "ty",
                            "xmin", "ymin", "xmax", "ymax",
                            "th", "tw", "nchan", "pixels")

    t0 = time.time()
    summary = lineage.run_resumable(
        spark, ig, key="image_id", n_parts=args.n_parts,
        run_id=args.resume_run, out_dir=os.path.join(args.out, "tiles"),
        lineage_dir=os.path.join(args.out, "lineage"),
        transform=transform, checksum_col="tile_id")
    summary["wall_sec"] = round(time.time() - t0, 2)
    summary["tiles_out"] = spark.read.parquet(
        os.path.join(args.out, "tiles")).count()

    # masks for the full set (single pass, not partition-looped)
    mk = masks.image_masks(labels, ig, channels=["footprint"])
    mk.select("image_id", "h", "w", "nchan").write.mode("overwrite") \
        .parquet(os.path.join(args.out, "mask_meta"))
    summary["masks"] = spark.read.parquet(
        os.path.join(args.out, "mask_meta")).count()

    print(json.dumps(summary))


if __name__ == "__main__":
    main()
