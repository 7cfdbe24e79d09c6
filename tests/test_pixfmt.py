"""The pixel format (functions/pixfmt.py) and the tilers that emit through
it: codec round trips, raster_tiles → stitch_tiles and resize_images over
every raw format, big-endian TIFFs through the windowed tiler, and PNG
inputs tiling to the same pixels as their raw originals.  Fixture-free."""

import struct
import zlib

import numpy as np

from solaris_spark.functions import pixfmt
from solaris_spark.functions.png import encode_png
from solaris_spark.operators import imageops, masks, multimodal, tiling
from solaris_spark.sources import synth
from tests import oracles as O

GEO_COLS = ("a double, b double, c double, d double, e double, f double, "
            "nodata double")


class TestCodec:
    def test_raw_roundtrip(self, raw_fmt, raw_image):
        px = raw_image(5, 7)
        buf, fmt = pixfmt.encode(px, "raw")
        assert fmt == raw_fmt and buf == px.tobytes()
        assert np.array_equal(pixfmt.decode(fmt, buf, 7, 5), px)

    def test_encode_writes_little_endian(self):
        px = np.array([[[1, 258], [513, 65535]]], dtype=">u2")
        buf, fmt = pixfmt.encode(px, "raw-u16-c1")
        assert fmt == "raw-u16-c1"
        assert buf == px.astype("<u2").tobytes()
        assert pixfmt.decode(fmt, buf, 2, 2).tolist() == px.tolist()

    def test_png_and_jpeg_keep_their_codec(self):
        px = (np.arange(3 * 16 * 24) % 251).astype(np.uint8).reshape(3, 16, 24)
        buf, fmt = pixfmt.encode(px, "png")
        assert fmt == "png"
        assert np.array_equal(pixfmt.decode(fmt, buf, 24, 16), px)
        buf, fmt = pixfmt.encode(px, "jpg")
        assert fmt == "jpg"
        assert pixfmt.decode(fmt, buf, 24, 16).shape == px.shape


def _blob_images(spark, rows):
    """(image_id, px, fmt) → images ⋈ geo rows, 0.5 m north-up pixels."""
    return spark.createDataFrame(
        [(iid, bytearray(buf), px.shape[2], px.shape[1], fmt,
          0.5, 0.0, 733601.0, 0.0, -0.5, 3725139.0, None)
         for iid, px, buf, fmt in rows],
        "image_id string, bytes binary, w int, h int, fmt string, "
        + GEO_COLS)


class TestTileRoundTrips:
    def test_raster_tiles_stitch_roundtrip(self, spark, raw_fmt, raw_image):
        """stitch_tiles(raster_tiles(im)) == im, edge tiles included."""
        px = raw_image(37, 45)
        ig = _blob_images(spark, [("s", px, px.tobytes(), raw_fmt)])
        tiles = tiling.raster_tiles(ig, (16, 16))
        assert {r["fmt"] for r in tiles.select("fmt").collect()} == {raw_fmt}
        out = imageops.stitch_tiles(
            tiles, ig.select("image_id", "w", "h")).collect()[0]
        assert out["dtype"] == str(px.dtype)
        got = pixfmt.decode(raw_fmt, out["pixels"], out["w"], out["h"])
        assert np.array_equal(got, px)

    def test_resize_images_formats(self, spark, raw_fmt, raw_image):
        """resize_images keeps each raw format, and its pixels are the
        per-output-pixel area-mean loop's, downsampling (37×45 → 20×16)
        and upsampling (4×5 → 8×8) in one query."""
        big, small = raw_image(37, 45), raw_image(4, 5, seed=1)
        ig = _blob_images(spark, [("big", big, big.tobytes(), raw_fmt),
                                  ("small", small, small.tobytes(), raw_fmt)])
        out = {r["image_id"]: r for r in
               multimodal.resize_images(ig, 20, 16).collect()}
        assert {r["fmt"] for r in out.values()} == {raw_fmt}
        got = pixfmt.decode(raw_fmt, out["big"]["bytes"], 20, 16)
        assert got.tobytes() == O.resize_area_mean(big, 20, 16).tobytes()
        out = multimodal.resize_images(ig.where("image_id = 'small'"),
                                       8, 8).collect()[0]
        got = pixfmt.decode(raw_fmt, out["bytes"], out["w"], out["h"])
        assert got.tobytes() == O.resize_area_mean(small, 8, 8).tobytes()

    def test_png_twin_tiles_to_same_pixels(self, spark):
        """A PNG copy of a synth image tiles to the same pixel CRCs as the
        raw original; every decoding consumer agrees on it."""
        raw = synth.images_table(spark, 2, include_fixture=False,
                                 max_px=120)
        png_rows = []
        for r in raw.collect():
            px = pixfmt.decode(r["fmt"], r["bytes"], r["w"], r["h"])
            png_rows.append({**r.asDict(), "bytes": encode_png(px),
                             "fmt": "png"})
        png = spark.createDataFrame(png_rows, schema=synth.IMAGES_SCHEMA)
        geo = synth.image_geo_table(spark, raw)

        def crcs(df):
            return {r["tile_id"]: (zlib.crc32(r["pixels"]), r["fmt"])
                    for r in df.collect()}

        want = crcs(tiling.raster_tiles(tiling.with_geo(raw, geo), (48, 48)))
        assert len(want) > 2
        assert {fmt for _, fmt in want.values()} == {"raw-u8-c3"}
        assert crcs(tiling.raster_tiles(tiling.with_geo(png, geo),
                                        (48, 48))) == want
        warped = [tiling.raster_tiles_warped(
            tiling.with_geo(im, geo), (48, 48), 4326, (5e-6, 5e-6))
            for im in (raw, png)]
        assert crcs(warped[1]) == crcs(warped[0])

        def rows(df):
            return sorted(tuple(r) for r in df.collect())

        for op in (lambda im: tiling.inference_tiles(im, (32, 32)),
                   imageops.channel_fill_values, imageops.to_uint8,
                   lambda im: multimodal.image_features(im).select(
                       "image_id", "phash")):
            assert rows(op(png)) == rows(op(raw))
        labels = synth.labels_table(spark, raw)
        ig = tiling.with_geo(raw, geo)
        inst = [masks.instance_masks(labels, ig, nodata_aware=True,
                                     images=im) for im in (raw, png)]
        assert rows(inst[1]) == rows(inst[0])


def _write_mm_tiff(path, px):
    """Single-strip big-endian ("MM") uint16 TIFF of a (h, w) array —
    tiffio.write_tiff only writes little-endian files."""
    h, w = px.shape
    data = px.astype(">u2").tobytes()
    short, long_ = 3, 4
    tags = [(256, long_, w), (257, long_, h), (258, short, 16),
            (259, short, 1), (262, short, 1), (273, long_, None),
            (277, short, 1), (278, long_, h), (279, long_, len(data)),
            (284, short, 1), (339, short, 1)]
    data_off = 8 + 2 + 12 * len(tags) + 4
    ifd = struct.pack(">H", len(tags))
    for tag, typ, val in tags:
        val = data_off if val is None else val
        ifd += struct.pack(">HHI", tag, typ, 1) + (
            struct.pack(">HH", val, 0) if typ == short
            else struct.pack(">I", val))
    with open(path, "wb") as f:
        f.write(b"MM" + struct.pack(">HI", 42, 8) + ifd
                + struct.pack(">I", 0) + data)


def test_windowed_big_endian_tiff(spark, tmp_path):
    """Windowed tiles of an MM uint16 TIFF carry little-endian raw-u16-c1
    pixels: they decode to the source values and equal raster_tiles over
    the same pixels as a table blob."""
    px = (np.arange(1, 20 * 26 + 1, dtype=np.uint16) * 97).reshape(20, 26)
    path = str(tmp_path / "mm.tif")
    _write_mm_tiff(path, px)
    files = spark.createDataFrame(
        [("mm", path, 26, 20, 0.5, 0.0, 733601.0, 0.0, -0.5, 3725139.0,
          None)],
        "image_id string, path string, w int, h int, " + GEO_COLS)
    blobs = _blob_images(spark, [("mm", px[None], px.astype("<u2").tobytes(),
                                  "raw-u16-c1")])
    ref = {r["tile_id"]: r for r in
           tiling.raster_tiles(blobs, (8, 8)).collect()}
    got = {r["tile_id"]: r for r in
           tiling.raster_tiles_windowed(files, (8, 8), partitions=2)
           .collect()}
    assert set(got) == set(ref) and len(ref) == 12
    for tid, r in got.items():
        assert r["fmt"] == "raw-u16-c1"
        assert bytes(r["pixels"]) == bytes(ref[tid]["pixels"]), tid
    # the grid cells partition the image and the boundless fill is 0, so
    # the tiles' nonzero values are exactly the source pixels
    vals = np.concatenate([pixfmt.decode(r["fmt"], r["pixels"], 8, 8).ravel()
                           for r in got.values()])
    assert np.array_equal(np.sort(vals[vals != 0]), np.sort(px.ravel()))
