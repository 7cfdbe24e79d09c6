"""Hand-assembled FOREIGN-layout TIFFs — files our writer never emits but
real producers do: big-endian (MM) byte order, multi-strip JPEG with
inline (per-strip) tables and no JPEGTables tag, and multi-strip files
whose RowsPerStrip does not divide the height.  Exercises the reader's
spec coverage beyond writer round-trips."""

import struct
import zlib

import numpy as np
import pytest

from solaris_spark.functions import jpeg, tiffio


def _classic_tiff(bo, entries, blocks, block_tag_off):
    """Minimal classic-TIFF serializer: header | blocks | IFD.
    ``entries`` = [(tag, type, values-or-bytes)]; ``block_tag_off`` maps
    the offsets tag id to per-block file offsets filled in here."""
    fmt = {1: "B", 3: "H", 4: "I"}
    hdr = (b"II" if bo == "<" else b"MM") + struct.pack(bo + "H", 42)
    pos = 8
    offs = []
    body = b""
    for b in blocks:
        offs.append(pos)
        body += b
        pos += len(b)
    ifd_off = pos
    hdr += struct.pack(bo + "I", ifd_off)
    out = bytearray(hdr + body)
    entries = sorted(
        [(t, ty, tuple(offs) if t == block_tag_off else v)
         for t, ty, v in entries])
    ool = bytearray()
    ool_base = ifd_off + 2 + 12 * len(entries) + 4
    ifd = struct.pack(bo + "H", len(entries))
    for tag, typ, vals in entries:
        if isinstance(vals, (bytes, bytearray)):
            raw, cnt = bytes(vals), len(vals)
        else:
            raw = struct.pack(bo + fmt[typ] * len(vals), *vals)
            cnt = len(vals)
        if len(raw) <= 4:
            ifd += struct.pack(bo + "HHI", tag, typ, cnt) + raw.ljust(4, b"\0")
        else:
            ifd += struct.pack(bo + "HHI", tag, typ, cnt) \
                + struct.pack(bo + "I", ool_base + len(ool))
            ool += raw
    ifd += struct.pack(bo + "I", 0)
    out += ifd + ool
    return bytes(out)


class TestBigEndian:
    def test_mm_uncompressed_strip(self, tmp_path):
        """MM byte order end to end: 16-bit samples must byte-swap."""
        a = (np.arange(2 * 6 * 7) * 257 % 65521).astype(">u2") \
            .reshape(2, 6, 7)
        chunky = np.moveaxis(a, 0, -1)
        blob = _classic_tiff(">", [
            (256, 3, (7,)), (257, 3, (6,)), (258, 3, (16, 16)),
            (259, 3, (1,)), (262, 3, (1,)), (277, 3, (2,)),
            (273, 4, ("OFF",)), (278, 3, (6,)),
            (279, 4, (chunky.nbytes,)), (339, 3, (1, 1)),
        ], [np.ascontiguousarray(chunky).tobytes()], 273)
        p = str(tmp_path / "mm.tif")
        with open(p, "wb") as f:
            f.write(blob)
        out = tiffio.read_tiff(p).array
        assert np.array_equal(out.astype(np.uint32),
                              a.astype(np.uint32))

    def test_mm_deflate_predictor2(self, tmp_path):
        import zlib
        a = np.arange(5 * 8, dtype=">u2").reshape(1, 5, 8)
        chunky = np.moveaxis(a, 0, -1)
        d = chunky.copy()
        d[:, 1:, :] = (chunky[:, 1:, :].astype(np.int32)
                       - chunky[:, :-1, :].astype(np.int32)) \
            .astype(">u2")
        comp = zlib.compress(np.ascontiguousarray(d).tobytes())
        blob = _classic_tiff(">", [
            (256, 3, (8,)), (257, 3, (5,)), (258, 3, (16,)),
            (259, 3, (8,)), (262, 3, (1,)), (277, 3, (1,)),
            (273, 4, ("OFF",)), (278, 3, (5,)), (317, 3, (2,)),
            (279, 4, (len(comp),)), (339, 3, (1,)),
        ], [comp], 273)
        p = str(tmp_path / "mm2.tif")
        with open(p, "wb") as f:
            f.write(blob)
        out = tiffio.read_tiff(p).array
        assert np.array_equal(out.astype(np.uint32), a.astype(np.uint32))


class TestMultiStripJpeg:
    def test_self_contained_strips_no_tag_347(self, tmp_path):
        """Two 16-row JPEG strips, each a SELF-CONTAINED stream (inline
        DQT/DHT, no shared JPEGTables) — the layout old libjpeg-based
        writers emit."""
        yy, xx = np.mgrid[0:32, 0:48]
        img = np.stack([(100 + 40 * np.sin(yy / 5.0) + 30 *
                         np.cos(xx / 7.0)).clip(0, 255)] * 3) \
            .astype(np.uint8)
        s0 = jpeg.encode_jpeg(img[:, :16], quality=95)
        s1 = jpeg.encode_jpeg(img[:, 16:], quality=95)
        blob = _classic_tiff("<", [
            (256, 3, (48,)), (257, 3, (32,)), (258, 3, (8, 8, 8)),
            (259, 3, (7,)), (262, 3, (6,)), (277, 3, (3,)),
            (273, 4, ("OFF",)), (278, 3, (16,)),
            (279, 4, (len(s0), len(s1))), (339, 3, (1, 1, 1)),
        ], [s0, s1], 273)
        p = str(tmp_path / "msj.tif")
        with open(p, "wb") as f:
            f.write(blob)
        out = tiffio.read_tiff(p).array
        assert out.shape == (3, 32, 48)
        # strip decodes must equal decoding each stream directly
        want = np.concatenate([jpeg.decode_jpeg(s0), jpeg.decode_jpeg(s1)],
                              axis=1)
        assert np.array_equal(out, want)

    def test_windowed_read_across_strip_boundary(self, tmp_path):
        yy, xx = np.mgrid[0:32, 0:48]
        img = np.stack([(90 + 50 * np.cos(yy / 6.0 + c) +
                         30 * np.sin(xx / 9.0)).clip(0, 255)
                        for c in range(3)]).astype(np.uint8)
        s0 = jpeg.encode_jpeg(img[:, :16], quality=95)
        s1 = jpeg.encode_jpeg(img[:, 16:], quality=95)
        blob = _classic_tiff("<", [
            (256, 3, (48,)), (257, 3, (32,)), (258, 3, (8, 8, 8)),
            (259, 3, (7,)), (262, 3, (6,)), (277, 3, (3,)),
            (273, 4, ("OFF",)), (278, 3, (16,)),
            (279, 4, (len(s0), len(s1))), (339, 3, (1, 1, 1)),
        ], [s0, s1], 273)
        p = str(tmp_path / "msj2.tif")
        with open(p, "wb") as f:
            f.write(blob)
        full = tiffio.read_tiff(p).array
        w = tiffio.read_tiff_window(p, 10, 5, 15, 30)
        assert np.array_equal(w.array, full[:, 10:25, 5:35])


def _blocked_tiff(arr, *, comp=1, encode=bytes, rps=None, tile=None,
                  planar=1, predictor=1, extra=()):
    """(C, H, W) little-endian array → (classic TIFF bytes, block offsets,
    block byte counts).  Blocks are strips of ``rps`` rows (default: one
    strip) or ``tile=(th, tw)`` tiles, zero-padded at the edges; planar=2
    stores every block of band 0, then band 1, …; ``encode`` compresses
    each block's predicted bytes for compression ``comp``."""
    c, h, w = arr.shape
    chunky = np.moveaxis(arr, 0, -1)
    planes = [chunky] if planar == 1 else \
        [chunky[..., b: b + 1] for b in range(c)]
    bh, bw = tile or (rps or h, w)
    blocks = []
    for pl in planes:
        for r in range(0, h, bh):
            for x in range(0, w, bw):
                blk = pl[r: r + bh, x: x + bw]
                if tile:
                    blk = np.pad(blk, ((0, bh - blk.shape[0]),
                                       (0, bw - blk.shape[1]), (0, 0)))
                if predictor == 3:
                    raw = tiffio._fp_diff(blk, blk.shape[-1])
                else:
                    if predictor == 2:
                        d = blk.copy()
                        d[:, 1:] = blk[:, 1:] - blk[:, :-1]
                        blk = d
                    raw = np.ascontiguousarray(blk).tobytes()
                blocks.append(encode(raw))
    counts = tuple(len(b) for b in blocks)
    layout = [(322, 3, (bw,)), (323, 3, (bh,)), (324, 4, ("OFF",)),
              (325, 4, counts)] if tile else \
        [(273, 4, ("OFF",)), (278, 3, (bh,)), (279, 4, counts)]
    sf = {"u": 1, "i": 2, "f": 3}[arr.dtype.kind]
    blob = _classic_tiff("<", [
        (256, 3, (w,)), (257, 3, (h,)),
        (258, 3, (arr.dtype.itemsize * 8,) * c), (259, 3, (comp,)),
        (262, 3, (1,)), (277, 3, (c,)), (284, 3, (planar,)),
        (317, 3, (predictor,)), (339, 3, (sf,) * c), *layout, *extra,
    ], blocks, 324 if tile else 273)
    offs = 8 + np.cumsum([0] + list(counts[:-1]))
    return blob, offs.tolist(), list(counts)


def _coalesced_reads(offs, counts, idxs):
    """(bytes, requests) a window read costs for the given blocks:
    file-adjacent ranges (gap ≤ ``tiffio._COALESCE_GAP``) merge into one
    read."""
    spans = sorted((offs[i], offs[i] + counts[i]) for i in idxs)
    total, runs, (s, e) = 0, 1, spans[0]
    for a, b in spans[1:]:
        if a <= e + tiffio._COALESCE_GAP:
            e = max(e, b)
        else:
            total, runs, s, e = total + e - s, runs + 1, a, b
    return total + e - s, runs


class TestMultiStrip:
    """RowsPerStrip < h and not dividing it (a short last strip) — real
    producers' default layout, which ``write_tiff`` (one strip) never
    emits."""

    @pytest.mark.parametrize("comp", [1, 8])
    @pytest.mark.parametrize("predictor", [1, 2, 3])
    @pytest.mark.parametrize("planar", [1, 2])
    def test_whole_and_windows(self, tmp_path, planar, predictor, comp):
        h, w, rps = 29, 23, 8
        rng = np.random.default_rng(planar * 10 + predictor + comp)
        if predictor == 3:
            arr = rng.normal(0, 300, (3, h, w)).astype("<f4")
        else:
            arr = rng.integers(0, 65535, (3, h, w)).astype("<u2")
        blob, offs, counts = _blocked_tiff(
            arr, comp=comp, encode=zlib.compress if comp == 8 else bytes,
            rps=rps, planar=planar, predictor=predictor)
        p = str(tmp_path / "ms.tif")
        with open(p, "wb") as f:
            f.write(blob)
        assert np.array_equal(tiffio.read_tiff(p).array, arr)
        tiffio.read_tiff_window(p, 0, 0, 1, 1)  # parse and cache the IFD
        n_strips = -(-h // rps)
        for _ in range(25):
            r0, c0 = int(rng.integers(0, h)), int(rng.integers(0, w))
            r1 = int(rng.integers(r0 + 1, h + 1))
            c1 = int(rng.integers(c0 + 1, w + 1))
            win = tiffio.read_tiff_window(p, r0, c0, r1 - r0, c1 - c0)
            assert np.array_equal(win.array, arr[:, r0:r1, c0:c1])
            assert win.tags["meta_cached"]
            idxs = [b * n_strips + s
                    for b in range(1 if planar == 1 else 3)
                    for s in range(r0 // rps, (r1 - 1) // rps + 1)]
            assert (win.tags["bytes_read"], win.tags["requests"]) == \
                _coalesced_reads(offs, counts, idxs)
