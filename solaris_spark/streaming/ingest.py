"""Structured Streaming ingest into the images table.

The reference is strictly batch (SURVEY §2.9 — generators, not streams);
the north rule's checkpoint-resumable requirement is met by the batch
lineage log (plans/lineage.py).  This module is the OPTIONAL streaming
front door: micro-batch ingest of newly-landed image files into the
partitioned images table, with exactly-once file tracking via the
Structured Streaming checkpoint.

Pattern: readStream(binaryFile) → decode/validate/phash in a blob map
(operators/blobs.py) → writeStream(availableNow) to parquet.  availableNow drains the backlog and
stops — cron-able, and semantically identical to repeated batch runs, which
is why it composes with the batch lineage/resume machinery.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions import pixfmt
from ..functions.raster import phash64
from ..operators.blobs import map_blobs
from ..sources.synth import IMAGES_SCHEMA


def stream_images_from_files(spark: SparkSession, src_dir: str,
                             fmt_glob: str = "*.bin") -> DataFrame:
    """readStream over a landing directory of raw image payloads.

    File naming contract: {image_id}__{w}x{h}__{fmt}.bin (metadata in the
    name because raw payloads carry none; a real deployment reads sidecar
    JSON or embeds a header)."""
    raw = (spark.readStream.format("binaryFile")
           .schema("path string, modificationTime timestamp, "
                   "length long, content binary")
           .option("pathGlobFilter", fmt_glob)
           .option("recursiveFileLookup", "true")
           .load(src_dir))
    name = F.element_at(F.split(F.col("path"), "/"), -1)
    stem = F.regexp_replace(name, r"\.bin$", "")
    parts = F.split(stem, "__")
    dims = F.split(F.element_at(parts, 2), "x")
    return raw.select(
        F.element_at(parts, 1).alias("image_id"),
        F.col("content").alias("bytes"),
        dims.getItem(0).cast("int").alias("w"),
        dims.getItem(1).cast("int").alias("h"),
        F.element_at(parts, 3).alias("fmt"),
        F.lit(None).cast("string").alias("caption"),
        F.lit(None).cast("long").alias("phash"),
    )


def with_phash(stream_df: DataFrame) -> DataFrame:
    """Compute the phash column in-flight; a row whose bytes do not decode
    (or are NULL) passes through with a NULL phash."""

    def rows_of(r):
        try:
            ph = phash64(pixfmt.decode(r.fmt, r.bytes, r.w, r.h))
        except Exception:
            ph = None
        yield (r.image_id, r.bytes, r.w, r.h, r.fmt, r.caption, ph)

    return map_blobs(stream_df, IMAGES_SCHEMA, rows_of)


def ingest_available_now(stream_df: DataFrame, table_dir: str,
                         checkpoint_dir: str):
    """Drain the current backlog into the images table and stop.
    The checkpoint gives exactly-once file semantics across restarts —
    the streaming analogue of the lineage anti-join resume."""
    q = (stream_df.writeStream
         .format("parquet")
         .option("path", table_dir)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q
