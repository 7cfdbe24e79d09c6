"""Windowed (COG-style byte-range) TIFF reads and file-backed tiling.

Parity contract: raster_tiles_windowed over a manifest of TIFF files
produces byte-identical tiles to raster_tiles over the same pixels as
table blobs — while reading only the strips each tile needs.
"""

import os

import numpy as np
import pytest

from solaris_spark.functions.tiffio import (read_tiff, read_tiff_window,
                                            write_tiff)

FIXTURE = "/root/reference/solaris/data/sample_geotiff.tif"


class TestWindowKernel:
    @pytest.mark.needs_reference("sample_geotiff.tif")
    def test_window_matches_full_decode(self):
        full = read_tiff(FIXTURE)
        win = read_tiff_window(FIXTURE, 100, 200, 256, 300)
        assert np.array_equal(win.array, full.array[:, 100:356, 200:500])

    @pytest.mark.needs_reference("sample_geotiff.tif")
    def test_transform_shifts_to_window_origin(self):
        full = read_tiff(FIXTURE)
        win = read_tiff_window(FIXTURE, 100, 200, 256, 300)
        a, b, c, d, e, f = full.transform
        assert win.transform == (a, 0.0, c + 200 * a, 0.0, e, f + 100 * e)
        assert win.epsg == full.epsg == 32616

    @pytest.mark.needs_reference("sample_geotiff.tif")
    def test_reads_only_window_strips(self):
        """The I/O contract: a 256/900-row window reads a proportional
        slice of the payload, not the whole file."""
        win = read_tiff_window(FIXTURE, 100, 200, 256, 300)
        full_size = os.path.getsize(FIXTURE)
        assert win.tags["bytes_read"] < 0.5 * full_size
        # strips are whole-width, so the floor is ~rows/height of payload
        assert win.tags["bytes_read"] >= 256 / 900 * 0.9 * full_size * 0.5

    @pytest.mark.needs_reference("sample_geotiff.tif")
    def test_edge_window_clamps(self):
        full = read_tiff(FIXTURE)
        win = read_tiff_window(FIXTURE, 890, 880, 64, 64)
        assert np.array_equal(win.array, full.array[:, 890:900, 880:900])
        assert win.tags["window"] == (890, 880, 900, 900)

    def test_multiband_roundtrip(self, tmp_path):
        rng = np.random.default_rng(7)
        arr = rng.integers(0, 255, size=(3, 50, 40), dtype=np.uint8)
        p = str(tmp_path / "mb.tif")
        write_tiff(p, arr)
        win = read_tiff_window(p, 10, 5, 20, 30)
        assert np.array_equal(win.array, arr[:, 10:30, 5:35])

    @pytest.mark.needs_reference("sample_geotiff.tif")
    def test_disjoint_window_raises(self):
        with pytest.raises(ValueError):
            read_tiff_window(FIXTURE, 2000, 0, 64, 64)


class TestTiledDeflate:
    """The real COG interior layout: tile grid (tags 322-325) + deflate
    (tag 259=8) + horizontal predictor (tag 317=2)."""

    def _img(self, seed=3, shape=(3, 200, 176), dtype=np.uint8):
        rng = np.random.default_rng(seed)
        return rng.integers(0, 255, size=shape).astype(dtype)

    @pytest.mark.parametrize("kw", [
        dict(tile=(64, 64)),
        dict(tile=(64, 64), compress="deflate"),
        dict(tile=(64, 64), compress="deflate", predictor=2),
        dict(tile=(32, 48), compress="deflate"),
        dict(compress="deflate"),              # strip + deflate
        dict(compress="deflate", predictor=2),
    ])
    def test_roundtrip_full_and_windowed(self, tmp_path, kw):
        arr = self._img()
        p = str(tmp_path / "cog.tif")
        write_tiff(p, arr, **kw)
        assert np.array_equal(read_tiff(p).array, arr)
        win = read_tiff_window(p, 33, 17, 90, 100)
        assert np.array_equal(win.array, arr[:, 33:123, 17:117])

    def test_dtype_roundtrip(self, tmp_path):
        for dt in ("u1", "u2", "i2", "i4", "f4", "f8"):
            arr = self._img(shape=(2, 70, 80), dtype=np.dtype(dt))
            p = str(tmp_path / f"d_{dt}.tif")
            pred = 1 if dt[0] == "f" else 2
            write_tiff(p, arr, tile=(16, 16), compress="deflate",
                       predictor=pred)
            assert np.array_equal(read_tiff(p).array, arr), dt

    def test_tiled_io_proportional_both_axes(self, tmp_path):
        """The tiled win over strips: a small window reads ~window bytes
        in BOTH axes, not whole rows."""
        rng = np.random.default_rng(9)
        big = rng.integers(0, 255, size=(3, 1024, 1024), dtype=np.uint8)
        p = str(tmp_path / "big.tif")
        write_tiff(p, big, tile=(64, 64), compress="deflate")
        full = os.path.getsize(p)
        win = read_tiff_window(p, 128, 256, 64, 64)
        assert np.array_equal(win.array, big[:, 128:192, 256:320])
        # 1 tile of 16x16=256 → ≲1% of the file (deflate on random data
        # is ~incompressible, so bytes ∝ tile pixels)
        assert win.tags["bytes_read"] < full / 100

    def test_geotags_roundtrip_and_3072_preference(self, tmp_path):
        """write_tiff(epsg=UTM) emits BOTH GeographicType(2048)=4326 and
        ProjectedCSType(3072) the way GDAL does; readers must prefer
        3072 (ADVICE r3: break-on-first reported the geographic code)."""
        arr = self._img(shape=(1, 64, 64))
        t = (0.5, 0.0, 733601.0, 0.0, -0.5, 3725139.0)
        p = str(tmp_path / "geo.tif")
        write_tiff(p, arr, transform=t, epsg=32616, nodata=0.0,
                   tile=(32, 32), compress="deflate", predictor=2)
        im = read_tiff(p)
        assert im.transform == t and im.epsg == 32616 and im.nodata == 0.0
        win = read_tiff_window(p, 32, 32, 32, 32)
        assert win.epsg == 32616
        assert win.transform == (0.5, 0.0, 733617.0, 0.0, -0.5, 3725123.0)

    def test_rotated_affine_rejected_on_write(self, tmp_path):
        with pytest.raises(ValueError):
            write_tiff(str(tmp_path / "r.tif"), self._img(),
                       transform=(0.5, 0.1, 0.0, 0.0, -0.5, 0.0))


class TestBigTiffAndOverviews:
    """BigTIFF (version 43, 8-byte offsets — required past 4 GB, routine
    at 100 TB scale) and multi-IFD overview pyramids (the other half of
    the real COG spec)."""

    def _img(self, shape=(3, 512, 640)):
        return np.random.default_rng(13).integers(
            0, 255, size=shape).astype(np.uint8)

    @pytest.mark.parametrize("kw", [
        dict(),
        dict(compress="deflate"),
        dict(tile=(64, 64), compress="deflate", predictor=2),
    ])
    def test_bigtiff_roundtrip(self, tmp_path, kw):
        arr = self._img((3, 100, 90))
        p = str(tmp_path / "big.tif")
        write_tiff(p, arr, bigtiff=True, **kw)
        with open(p, "rb") as f:
            assert f.read(4) == b"II\x2b\x00"  # version 43
        assert np.array_equal(read_tiff(p).array, arr)
        win = read_tiff_window(p, 10, 20, 50, 60)
        assert np.array_equal(win.array, arr[:, 10:60, 20:80])

    def test_overview_pyramid(self, tmp_path):
        arr = self._img()
        t = (0.5, 0.0, 733601.0, 0.0, -0.5, 3725139.0)
        p = str(tmp_path / "ov.tif")
        write_tiff(p, arr, tile=(128, 128), compress="deflate",
                   predictor=2, overviews=[2, 4], transform=t, epsg=32616,
                   nodata=0.0)
        full = read_tiff(p)
        assert full.tags["n_levels"] == 3
        assert np.array_equal(full.array, arr) and full.transform == t
        for lvl, fct in ((1, 2), (2, 4)):
            ov = read_tiff(p, level=lvl)
            assert np.array_equal(ov.array, arr[:, ::fct, ::fct])
            # georef derived from level 0: pixel size scales by the factor
            assert ov.transform == (0.5 * fct, 0.0, 733601.0,
                                    0.0, -0.5 * fct, 3725139.0)
            assert ov.epsg == 32616

    def test_windowed_overview_read(self, tmp_path):
        """Window coordinates are in the LEVEL's pixel grid and the
        affine shifts accordingly — zoomed-out tile serving, the COG
        use-case the pyramid exists for."""
        arr = self._img()
        p = str(tmp_path / "ovw.tif")
        write_tiff(p, arr, tile=(128, 128), compress="deflate",
                   overviews=[2],
                   transform=(0.5, 0.0, 733601.0, 0.0, -0.5, 3725139.0))
        w = read_tiff_window(p, 32, 32, 64, 64, level=1)
        assert np.array_equal(w.array, arr[:, ::2, ::2][:, 32:96, 32:96])
        assert w.transform == (1.0, 0.0, 733633.0, 0.0, -1.0, 3725107.0)
        # overview I/O is small: one 128² tile of the decimated level
        full = os.path.getsize(p)
        assert w.tags["bytes_read"] < full / 10
        with pytest.raises(ValueError, match="level"):
            read_tiff_window(p, 0, 0, 8, 8, level=5)

    def test_bigtiff_pyramid(self, tmp_path):
        arr = self._img((2, 256, 320))
        p = str(tmp_path / "bp.tif")
        write_tiff(p, arr, tile=(64, 64), compress="deflate",
                   overviews=[2], bigtiff=True, epsg=4326)
        assert read_tiff(p).tags["n_levels"] == 2
        assert np.array_equal(read_tiff(p, level=1).array, arr[:, ::2, ::2])
        assert read_tiff(p).epsg == 4326


class TestIfdCache:
    def test_second_window_skips_header(self, tmp_path):
        """One header/IFD fetch per (process, file): the first window
        parses and caches the IFD; later windows issue ONLY pixel-range
        reads (VERDICT r3 next-round #2)."""
        arr = np.random.default_rng(4).integers(
            0, 255, size=(3, 300, 300), dtype=np.uint8)
        p = str(tmp_path / "c.tif")
        write_tiff(p, arr, tile=(64, 64), compress="deflate")
        w1 = read_tiff_window(p, 0, 0, 64, 64)
        assert w1.tags["meta_cached"] is False
        w2 = read_tiff_window(p, 64, 64, 64, 64)
        assert w2.tags["meta_cached"] is True
        # pixel fetches coalesce adjacent tiles: a 1-tile window on a
        # cached file is exactly one range request
        w3 = read_tiff_window(p, 128, 128, 64, 64)
        assert w3.tags["meta_cached"] is True and w3.tags["requests"] == 1

    def test_overwrite_invalidates(self, tmp_path):
        p = str(tmp_path / "o.tif")
        a1 = np.full((1, 32, 32), 7, dtype=np.uint8)
        a2 = np.full((1, 32, 32), 9, dtype=np.uint8)
        write_tiff(p, a1)
        assert read_tiff_window(p, 0, 0, 32, 32).array[0, 0, 0] == 7
        import time
        time.sleep(0.01)  # ensure mtime_ns differs
        write_tiff(p, a2, tile=(16, 16), compress="deflate")
        w = read_tiff_window(p, 0, 0, 32, 32)
        assert w.tags["meta_cached"] is False
        assert w.array[0, 0, 0] == 9


class TestWindowedTiling:
    @pytest.fixture(scope="class")
    def tiff_manifest(self, tmp_path_factory):
        """3 deterministic multiband images, written both as TIFF files
        (for the windowed path) and kept as arrays (for the blob path)."""
        d = tmp_path_factory.mktemp("wtiles")
        rng = np.random.default_rng(11)
        rows = []
        for i in range(3):
            h, w = 200 + 17 * i, 240 + 13 * i
            arr = rng.integers(0, 255, size=(3, h, w), dtype=np.uint8)
            p = str(d / f"im{i}.tif")
            write_tiff(p, arr)
            rows.append((f"im{i}", p, arr, w, h))
        return rows

    def _geo(self, i):
        # 0.5 m px, north-up, distinct origins per image
        return dict(a=0.5, b=0.0, c=733601.0 + 1000 * i,
                    d=0.0, e=-0.5, f=3725139.0 - 1000 * i)

    def test_parity_with_blob_tiling(self, spark, tiff_manifest):
        import pyspark.sql.functions as F

        from solaris_spark.operators import tiling

        blob_rows, file_rows = [], []
        for i, (iid, p, arr, w, h) in enumerate(tiff_manifest):
            g = self._geo(i)
            blob_rows.append((iid, bytearray(arr.tobytes()), w, h,
                              "raw-u8-c3", g["a"], g["b"], g["c"], g["d"],
                              g["e"], g["f"], None))
            file_rows.append((iid, p, w, h, g["a"], g["b"], g["c"], g["d"],
                              g["e"], g["f"], None))
        blobs = spark.createDataFrame(
            blob_rows, "image_id string, bytes binary, w int, h int, "
            "fmt string, a double, b double, c double, d double, "
            "e double, f double, nodata double")
        files = spark.createDataFrame(
            file_rows, "image_id string, path string, w int, h int, "
            "a double, b double, c double, d double, e double, f double, "
            "nodata double")

        ref = {r["tile_id"]: r for r in
               tiling.raster_tiles(blobs, (90, 90)).collect()}
        got = {r["tile_id"]: r for r in
               tiling.raster_tiles_windowed(files, (90, 90),
                                            partitions=8).collect()}
        assert set(got) == set(ref) and len(ref) > 0
        for tid, r in got.items():
            b = ref[tid]
            assert bytes(r["pixels"]) == bytes(b["pixels"]), tid
            for col in ("image_id", "tx", "ty", "xmin", "ymin", "xmax",
                        "ymax", "th", "tw", "nchan", "fmt", "nodata_frac"):
                assert r[col] == b[col], (tid, col)

    def test_parity_cog_layout(self, spark, tiff_manifest):
        """Same parity contract when the files on disk are tiled+deflate+
        predictor COGs instead of uncompressed strips."""
        from solaris_spark.operators import tiling

        rows = []
        for i, (iid, p, arr, w, h) in enumerate(tiff_manifest):
            g = self._geo(i)
            cp = p.replace(".tif", "_cog.tif")
            write_tiff(cp, arr, tile=(64, 64), compress="deflate",
                       predictor=2)
            rows.append((iid, cp, w, h, g["a"], g["b"], g["c"], g["d"],
                         g["e"], g["f"], None))
        schema = ("image_id string, path string, w int, h int, a double, "
                  "b double, c double, d double, e double, f double, "
                  "nodata double")
        strip = spark.createDataFrame(
            [(iid, p, w, h, *[self._geo(i)[k] for k in "abcdef"], None)
             for i, (iid, p, arr, w, h) in enumerate(tiff_manifest)], schema)
        cog = spark.createDataFrame(rows, schema)
        ref = {r["tile_id"]: r for r in
               tiling.raster_tiles_windowed(strip, (90, 90)).collect()}
        got = {r["tile_id"]: r for r in
               tiling.raster_tiles_windowed(cog, (90, 90)).collect()}
        assert set(got) == set(ref) and len(ref) > 0
        for tid, r in got.items():
            assert bytes(r["pixels"]) == bytes(ref[tid]["pixels"]), tid

    def test_overview_level_tiling(self, spark, tmp_path):
        """Tiling an overview level equals tiling the decimated pixels:
        the zoom-out serving path reads only the small overview IFD."""
        import numpy as np

        from solaris_spark.operators import tiling

        arr = np.random.default_rng(31).integers(
            0, 255, size=(3, 400, 360), dtype=np.uint8)
        p = str(tmp_path / "pyr.tif")
        write_tiff(p, arr, tile=(64, 64), compress="deflate",
                   overviews=[2])
        dec = arr[:, ::2, ::2]  # 200×180, pixel size doubles
        g = dict(a=1.0, b=0.0, c=733601.0, d=0.0, e=-1.0, f=3725139.0)
        files = spark.createDataFrame(
            [("pyr", p, dec.shape[2], dec.shape[1], g["a"], g["b"], g["c"],
              g["d"], g["e"], g["f"], None)],
            "image_id string, path string, w int, h int, a double, "
            "b double, c double, d double, e double, f double, "
            "nodata double")
        blobs = spark.createDataFrame(
            [("pyr", bytearray(dec.tobytes()), dec.shape[2], dec.shape[1],
              "raw-u8-c3", g["a"], g["b"], g["c"], g["d"], g["e"], g["f"],
              None)],
            "image_id string, bytes binary, w int, h int, fmt string, "
            "a double, b double, c double, d double, e double, f double, "
            "nodata double")
        ref = {r["tile_id"]: r for r in
               tiling.raster_tiles(blobs, (90, 90)).collect()}
        got = {r["tile_id"]: r for r in
               tiling.raster_tiles_windowed(files, (90, 90),
                                            level=1).collect()}
        assert set(got) == set(ref) and len(ref) > 0
        for tid, r in got.items():
            assert bytes(r["pixels"]) == bytes(ref[tid]["pixels"]), tid

    def test_rotated_manifest_raises(self, spark, tiff_manifest):
        from solaris_spark.operators import tiling

        iid, p, arr, w, h = tiff_manifest[0]
        files = spark.createDataFrame(
            [(iid, p, w, h, 0.5, 0.01, 733601.0, 0.0, -0.5, 3725139.0,
              None)],
            "image_id string, path string, w int, h int, a double, "
            "b double, c double, d double, e double, f double, "
            "nodata double")
        with pytest.raises(Exception, match="rotated affine"):
            tiling.raster_tiles_windowed(files, (90, 90)).collect()

    def test_nodata_threshold_filter_matches(self, spark, tiff_manifest):
        from solaris_spark.operators import tiling

        i, (iid, p, arr, w, h) = 0, tiff_manifest[0]
        g = self._geo(0)
        files = spark.createDataFrame(
            [(iid, p, w, h, g["a"], g["b"], g["c"], g["d"], g["e"], g["f"],
              None)],
            "image_id string, path string, w int, h int, a double, "
            "b double, c double, d double, e double, f double, "
            "nodata double")
        # 90px tiles over a 200-row image: the bottom row of tiles is
        # 70/90 real → nodata_frac > 0.2 for edge tiles filtered at 0.2
        kept = tiling.raster_tiles_windowed(files, (90, 90),
                                            nodata_threshold=0.2).collect()
        allt = tiling.raster_tiles_windowed(files, (90, 90)).collect()
        assert 0 < len(kept) < len(allt)
        assert all(r["nodata_frac"] < 0.2 for r in kept)


class TestBigEndian:
    @pytest.mark.needs_reference("datagen_sample/sample_1.tif")
    def test_reads_motorola_order_fixture(self):
        """The reference's datagen samples are big-endian (MM) uint16
        TIFFs — byte order comes from the header, not an assumption."""
        im = read_tiff(
            "/root/reference/solaris/data/datagen_sample/sample_1.tif")
        assert im.array.shape == (1, 30, 30)
        assert im.array.dtype == np.dtype(">u2")
        msk = read_tiff(
            "/root/reference/solaris/data/datagen_sample/sample_mask_1.tif")
        assert msk.array.shape[1:] == (30, 30)
        # masks are labels: small non-negative ints
        assert int(msk.array.min()) >= 0


class TestLzw:
    """TIFF LZW (compression 5): MSB-first packing, early change, table
    reset — the most common compressed GeoTIFF in the wild."""

    def test_known_bitstream(self):
        """Hand-derived vector: encoding [7,7,7,8,8,7,7,6,6] emits codes
        [CLEAR, 7, 258, 8, 8, 258, 6, 6, EOI] (the 258 re-uses the (7,7)
        entry added after the first emit; the second 258 exercises the
        KwKwK lag).  Packed by an independent bit-writer here, so encoder
        packing and decoder unpacking are each checked against the spec,
        not just against each other."""
        from solaris_spark.functions.tiffio import _lzw_decode, _lzw_encode
        data = bytes([7, 7, 7, 8, 8, 7, 7, 6, 6])
        codes = [256, 7, 258, 8, 8, 258, 6, 6, 257]
        bits = "".join(format(c, "09b") for c in codes)
        bits += "0" * (-len(bits) % 8)
        packed = bytes(int(bits[i:i + 8], 2) for i in range(0, len(bits), 8))
        assert _lzw_encode(data) == packed
        assert _lzw_decode(packed) == data

    @pytest.mark.parametrize("n", [0, 1, 300, 2000, 9000, 40000])
    def test_roundtrip_random(self, n):
        """Lengths straddle every width bump (511/1023/2047) and the
        4094-entry table reset: random bytes mismatch nearly every step,
        so the table grows ~1 entry/byte."""
        from solaris_spark.functions.tiffio import _lzw_decode, _lzw_encode
        rng = np.random.default_rng(n)
        data = rng.integers(0, 256, size=n, dtype=np.uint8).tobytes()
        assert _lzw_decode(_lzw_encode(data)) == data

    def test_roundtrip_compressible(self):
        from solaris_spark.functions.tiffio import _lzw_decode, _lzw_encode
        data = (b"abcabcabc" * 1000 + bytes(5000)
                + bytes(range(256)) * 40)
        enc = _lzw_encode(data)
        assert len(enc) < len(data) / 2
        assert _lzw_decode(enc) == data

    @pytest.mark.parametrize("kw", [
        dict(compress="lzw"),
        dict(compress="lzw", predictor=2),
        dict(tile=(64, 64), compress="lzw"),
        dict(tile=(64, 64), compress="lzw", predictor=2),
    ])
    def test_tiff_roundtrip_full_and_windowed(self, tmp_path, kw):
        rng = np.random.default_rng(11)
        # smooth gradient + noise: compressible, exercises predictor
        base = np.add.outer(np.arange(200), np.arange(176)) % 251
        arr = (base[None] + rng.integers(0, 8, size=(3, 200, 176))) \
            .astype(np.uint8)
        p = str(tmp_path / "lzw.tif")
        write_tiff(p, arr, **kw)
        assert np.array_equal(read_tiff(p).array, arr)
        win = read_tiff_window(p, 33, 17, 90, 100)
        assert np.array_equal(win.array, arr[:, 33:123, 17:117])

    def test_lzw_u16_and_compression_tag(self, tmp_path):
        from solaris_spark.functions.tiffio import _BytesReader, _parse_meta
        arr = (np.arange(3 * 64 * 64, dtype=np.uint16)
               .reshape(3, 64, 64) % 1021)
        p = str(tmp_path / "lzw16.tif")
        write_tiff(p, arr, tile=(32, 32), compress="lzw", predictor=2)
        with open(p, "rb") as f:
            meta = _parse_meta(_BytesReader(f.read()))[0]
        assert meta.comp == 5
        assert np.array_equal(read_tiff(p).array, arr)


class TestPlanarConfig2:
    """Separate-plane (tag 284=2) layouts — the Landsat archive shape.
    Blocks are single-sample, plane-major; windowed region reads fetch
    the window once per band (reference reads these via GDAL)."""

    def _img(self, shape=(4, 120, 88), dtype=np.uint8, seed=13):
        rng = np.random.default_rng(seed)
        return rng.integers(0, 250, size=shape).astype(dtype)

    @pytest.mark.parametrize("kw", [
        dict(),
        dict(compress="deflate"),
        dict(compress="lzw", predictor=2),
        dict(tile=(32, 32)),
        dict(tile=(32, 32), compress="deflate", predictor=2),
        dict(tile=(48, 32), compress="lzw"),
    ])
    def test_roundtrip_full_and_windowed(self, tmp_path, kw):
        arr = self._img()
        p = str(tmp_path / "planar.tif")
        write_tiff(p, arr, planar=2, **kw)
        assert np.array_equal(read_tiff(p).array, arr)
        win = read_tiff_window(p, 15, 21, 60, 50)
        assert np.array_equal(win.array, arr[:, 15:75, 21:71])

    def test_planar_tag_written(self, tmp_path):
        from solaris_spark.functions.tiffio import _BytesReader, _parse_meta
        p = str(tmp_path / "p2.tif")
        write_tiff(p, self._img(), planar=2, tile=(32, 32))
        with open(p, "rb") as f:
            meta = _parse_meta(_BytesReader(f.read()))[0]
        assert meta.planar == 2
        assert len(meta.offsets) == 4 * 4 * 3  # bands × tile grid (4×3)

    def test_planar_windowed_io_proportional(self, tmp_path):
        """Tiled planar window: bytes read ∝ window area × bands."""
        rng = np.random.default_rng(5)
        big = rng.integers(0, 255, size=(3, 512, 512), dtype=np.uint8)
        p = str(tmp_path / "pbig.tif")
        write_tiff(p, big, planar=2, tile=(64, 64), compress="deflate")
        win = read_tiff_window(p, 128, 256, 64, 64)
        assert np.array_equal(win.array, big[:, 128:192, 256:320])
        assert win.tags["bytes_read"] < os.path.getsize(p) / 50

    def test_single_band_ignores_planar_flag(self, tmp_path):
        arr = self._img(shape=(1, 40, 40))
        p = str(tmp_path / "p1.tif")
        write_tiff(p, arr, planar=2)
        assert np.array_equal(read_tiff(p).array, arr)


class TestSparseBlocks:
    """GDAL SPARSE_OK tiles (offset 0 / byte count 0 — legal per spec)
    decode as nodata fill (or 0), instead of an opaque reshape error."""

    def _sparse_meta(self, path, kill):
        import dataclasses

        from solaris_spark.functions.tiffio import _BytesReader, _parse_meta
        with open(path, "rb") as f:
            data = f.read()
        meta = _parse_meta(_BytesReader(data))[0]
        offs, cnts = list(meta.offsets), list(meta.counts)
        for i in kill:
            offs[i] = 0
            cnts[i] = 0
        return data, dataclasses.replace(
            meta, offsets=tuple(offs), counts=tuple(cnts))

    def test_sparse_tile_fills_zero(self, tmp_path):
        from solaris_spark.functions.tiffio import _BytesReader, _read_region
        arr = np.arange(3 * 128 * 128, dtype=np.uint8).reshape(3, 128, 128)
        p = str(tmp_path / "s.tif")
        write_tiff(p, arr, tile=(64, 64))
        data, meta = self._sparse_meta(p, kill=[0])  # top-left tile
        out = _read_region(_BytesReader(data), meta, 0, 0, 128, 128)
        exp = arr.copy()
        exp[:, :64, :64] = 0
        assert np.array_equal(out, exp)

    def test_sparse_fills_nodata_value(self, tmp_path):
        from solaris_spark.functions.tiffio import _BytesReader, _read_region
        arr = np.full((1, 64, 64), 7, dtype=np.uint8)
        p = str(tmp_path / "s2.tif")
        write_tiff(p, arr, tile=(32, 32), nodata=255.0)
        data, meta = self._sparse_meta(p, kill=[3])
        out = _read_region(_BytesReader(data), meta, 0, 0, 64, 64)
        assert (out[:, 32:, 32:] == 255).all()
        assert (out[:, :32, :32] == 7).all()


class TestBigTiffPast4GB:
    """True >4 GB stress — proves 8-byte offsets actually resolve past the
    4 GiB boundary, not just that the format version flips.  ~4.4 GB of
    disk + ~70 s of synthesis, so opt-in: SOLARIS_SPARK_SLOW=1.
    (Run verified green this round before gating; see BENCH/BASELINE.md.)"""

    @pytest.mark.skipif(not os.environ.get("SOLARIS_SPARK_SLOW"),
                        reason="writes a 4.4 GB file; set SOLARIS_SPARK_SLOW=1")
    def test_windowed_reads_past_4gib(self, tmp_path):
        from solaris_spark.functions.tiffio import read_tiff_window, write_tiff
        n = 47104  # multiple of 512; 47104^2 uint16 = 4.44 GB > 4 GiB
        yy = (np.arange(n, dtype=np.uint32) * 31)
        xx = (np.arange(n, dtype=np.uint32) * 17)
        arr = ((yy[:, None] + xx[None, :]) & 0xFFFF).astype(np.uint16)
        p = str(tmp_path / "huge.tif")
        write_tiff(p, arr, tile=(512, 512), bigtiff=True,
                   transform=(0.5, 0.0, 100.0, 0.0, -0.5, 200.0), epsg=32633)
        assert os.path.getsize(p) > 4 * 1024 ** 3
        for (r, c, h, w) in [(0, 0, 700, 700), (46000, 46000, 1000, 1000),
                             (23456, 40000, 513, 777),
                             (n - 512, n - 512, 512, 512)]:
            win = read_tiff_window(p, r, c, h, w)
            got = win.array[0] if win.array.ndim == 3 else win.array
            want = ((yy[r:r + h, None] + xx[None, c:c + w]) & 0xFFFF
                    ).astype(np.uint16)
            assert np.array_equal(got, want), (r, c, h, w)
