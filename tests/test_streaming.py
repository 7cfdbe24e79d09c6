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


class TestStatefulSessions:
    def test_session_state_across_microbatches(self, spark, tmp_path):
        """applyInPandasWithState session windows: per-user state carries
        the open session across availableNow drains; a later event beyond
        the gap closes it and the closed row lands in the sink."""
        import json as _json

        from solaris_spark.streaming import sessions

        src = tmp_path / "events"
        src.mkdir()
        sink = str(tmp_path / "sessions_out")
        ckpt = str(tmp_path / "sess_ckpt")

        def write_batch(name, rows):
            with open(src / name, "w") as fh:
                for uid, ts in rows:
                    fh.write(_json.dumps({"user_id": uid, "ts": ts}) + "\n")

        def drain():
            ev = (spark.readStream
                  .schema("user_id long, ts timestamp")
                  .json(str(src)))
            # timeout_ms=None (NoTimeout): availableNow must terminate, and
            # any pending processing-time timeout keeps the trigger alive
            # "cleaning up state" until it fires
            q = (sessions.sessionize_stream(ev, gap_sec=1800,
                                            timeout_ms=None)
                 .writeStream.format("parquet")
                 .option("path", sink).option("checkpointLocation", ckpt)
                 .outputMode("append").trigger(availableNow=True).start())
            assert q.awaitTermination(420), 'drain did not finish'

        # batch 1: user 1 has two events 100 s apart (one open session);
        # user 2 one event — nothing closes yet
        write_batch("ev1.json", [(1, "2026-01-01 00:00:00"),
                                 (1, "2026-01-01 00:01:40"),
                                 (2, "2026-01-01 00:00:00")])
        drain()
        import glob
        n0 = (spark.read.parquet(sink).count()
              if glob.glob(sink + "/*.parquet") else 0)
        assert n0 == 0  # append mode: only CLOSED sessions are emitted

        # batch 2: user 1 comes back 2 h later -> closes session (2 events)
        write_batch("ev2.json", [(1, "2026-01-01 02:00:00")])
        drain()
        rows = spark.read.parquet(sink).collect()
        assert len(rows) == 1
        r = rows[0]
        assert r["user_id"] == 1 and r["n_events"] == 2 and r["closed"]
        assert r["session_end"] - r["session_start"] == 100
