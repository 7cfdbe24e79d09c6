"""Structured Streaming ingest test: availableNow drain with exactly-once
file tracking via the checkpoint."""

import os

import numpy as np
import pytest

from solaris_spark.streaming import ingest


class TestIngest:
    def test_available_now_exactly_once(self, spark, tmp_path):
        src = tmp_path / "landing"
        src.mkdir()
        rng = np.random.default_rng(4)
        for i in range(3):
            w, h = 8, 6
            px = rng.integers(0, 255, size=(3, h, w), dtype=np.uint8)
            (src / f"img{i:03d}__{w}x{h}__raw-u8-c3.bin").write_bytes(px.tobytes())

        table = str(tmp_path / "images")
        ckpt = str(tmp_path / "ckpt")
        stream = ingest.with_phash(
            ingest.stream_images_from_files(spark, str(src)))
        ingest.ingest_available_now(stream, table, ckpt)
        out = spark.read.parquet(table)
        rows = {r["image_id"]: r for r in out.collect()}
        assert set(rows) == {"img000", "img001", "img002"}
        assert all(r["w"] == 8 and r["h"] == 6 and r["phash"] is not None
                   for r in rows.values())

        # second drain: no new files → no new rows (checkpoint dedup)
        stream2 = ingest.with_phash(
            ingest.stream_images_from_files(spark, str(src)))
        ingest.ingest_available_now(stream2, table, ckpt)
        assert spark.read.parquet(table).count() == 3

        # new file arrives → only it is ingested
        px = rng.integers(0, 255, size=(3, 6, 8), dtype=np.uint8)
        (src / "img003__8x6__raw-u8-c3.bin").write_bytes(px.tobytes())
        stream3 = ingest.with_phash(
            ingest.stream_images_from_files(spark, str(src)))
        ingest.ingest_available_now(stream3, table, ckpt)
        assert spark.read.parquet(table).count() == 4

    def test_with_phash_keeps_null_bytes_row(self, spark):
        """A row with NULL bytes passes through as (bytes NULL, phash
        NULL); a decodable row keeps its bytes and gets its phash."""
        from solaris_spark.functions.raster import phash64
        from solaris_spark.sources.synth import IMAGES_SCHEMA

        px = np.arange(3 * 6 * 8, dtype=np.uint8).reshape(3, 6, 8)
        df = spark.createDataFrame(
            [("ok", bytearray(px.tobytes()), 8, 6, "raw-u8-c3", None, None),
             ("null", None, 8, 6, "raw-u8-c3", "no bytes", None)],
            IMAGES_SCHEMA)
        rows = {r["image_id"]: r for r in ingest.with_phash(df).collect()}
        assert set(rows) == {"ok", "null"}
        assert rows["null"]["bytes"] is None
        assert rows["null"]["phash"] is None
        assert rows["null"]["caption"] == "no bytes"
        assert bytes(rows["ok"]["bytes"]) == px.tobytes()
        assert rows["ok"]["phash"] == phash64(px)

