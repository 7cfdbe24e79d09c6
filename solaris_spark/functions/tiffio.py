"""Pure-NumPy TIFF/BigTIFF reader/writer: strip AND tiled layouts,
uncompressed / deflate (zlib) / LZW / baseline-JPEG (compression 7 with
shared JPEGTables) compression (plus PackBits on read, for foreign
files), horizontal-differencing predictor (2) and TechNote-3
floating-point predictor (3 — the DEM/elevation float-COG layout), chunky
AND separate-plane (planar=2) sample layouts, sparse (offset/count 0)
blocks as nodata fill, multi-IFD overview pyramids — the real COG file
layout — plus GeoTIFF georegistration tags and byte-range windowed reads
with a per-process parsed-IFD cache.

The reader sees one block grid: a tile is ``TileLength × TileWidth``
(stored padded at the edges) and a strip is a full-width tile of
``min(RowsPerStrip, h)`` rows (the last one may be short), so one
region loop serves both layouts.

The reference's golden fixtures (e.g. ``solaris/data/sample_geotiff.tif``,
``rastertile_test_expected/*.tif``, mask goldens in ``test_mask.py``) are
uncompressed strip TIFFs, so the strip path pins parity with them.  The
tiled+deflate path matches the layout the reference's (disabled) COG code
targeted (``solaris/utils/tile.py:34-158`` — rasterio/rio-tiler based;
this implementation is an original byte-range parser, no relation beyond
the idea): tile grids via TIFF tags 322/323/324/325, Deflate compression
(tag 259 == 8, also legacy 32946), optional Predictor 2 (tag 317),
reduced-resolution overview IFDs chained after the full-res IFD
(NewSubfileType 254 == 1), and BigTIFF (version 43, 8-byte offsets) for
files past the classic format's 4 GB ceiling — routine at 100 TB scale.

Georegistration: ModelPixelScale (33550) + ModelTiepoint (33922) parse
into an affine ``(a, b, c, d, e, f)`` with ``world_x = a*col + b*row + c``;
matches ``rasterio``'s ``.transform`` for north-up rasters (reference
``tests/test_raster/test_image.py:16``: ``Affine(0.5, 0, 733601, 0, -0.5,
3725139)``).  CRS comes from the GeoKey directory (34735) — all keys are
scanned and ProjectedCSTypeGeoKey (3072) is preferred over
GeographicTypeGeoKey (2048), since projected GeoTIFFs legitimately carry
both (2048 then names the underlying geographic CRS).
"""

from __future__ import annotations

import os
import struct
import threading
import zlib
from collections import OrderedDict
from dataclasses import dataclass, field

import numpy as np


def _lzw_decode(data: bytes) -> bytes:
    """TIFF LZW (compression 5): MSB-first bit packing, ClearCode 256,
    EOI 257, 9→12-bit codes with the TIFF "early change" — the width
    bumps as soon as table entry 2^n - 1 exists (one entry before the
    naive rollover), matching libtiff/GDAL output.  LZW is the most
    common compressed GeoTIFF in the wild (the reference reads it via
    GDAL, solaris/tile/raster_tile.py:332)."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    nbits = 9
    bitpos = 0
    maxbit = len(data) * 8
    table: list[bytes] = []
    prev: bytes | None = None
    while bitpos + nbits <= maxbit:
        byte0 = bitpos >> 3
        chunk = data[byte0: byte0 + 3].ljust(3, b"\x00")
        code = (int.from_bytes(chunk, "big")
                >> (24 - (bitpos & 7) - nbits)) & ((1 << nbits) - 1)
        bitpos += nbits
        if code == EOI:
            break
        if code == CLEAR:
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            nbits = 9
            prev = None
            continue
        if prev is None:
            if not table:
                raise ValueError("LZW stream does not start with ClearCode")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        else:
            entry = prev + prev[:1]
            table.append(entry)
        out += entry
        prev = entry
        # early change: entry 511/1023/2047 existing forces the wider read
        if len(table) == (1 << nbits) - 1 and nbits < 12:
            nbits += 1
    return bytes(out)


def _lzw_encode(data: bytes) -> bytes:
    """TIFF LZW encoder (early change, table reset at entry 4094) —
    exact inverse of ``_lzw_decode``; block layout round-trips through
    libtiff-compatible readers."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    buf = nbuf = 0
    nbits = 9

    def emit(code):
        nonlocal buf, nbuf
        buf = (buf << nbits) | code
        nbuf += nbits
        while nbuf >= 8:
            out.append((buf >> (nbuf - 8)) & 0xFF)
            nbuf -= 8
        buf &= (1 << nbuf) - 1

    def reset():
        nonlocal nbits
        emit(CLEAR)
        nbits = 9
        return {bytes([i]): i for i in range(256)}, 258

    table, next_code = reset()
    w = b""
    for b in data:
        ch = bytes([b])
        wc = w + ch
        if wc in table:
            w = wc
            continue
        emit(table[w])
        table[wc] = next_code
        next_code += 1
        # early change: bump the WRITE width once entry 2^n - 1 exists,
        # mirroring the decoder's read-width bump
        if next_code - 1 == (1 << nbits) - 1 and nbits < 12:
            nbits += 1
        w = ch
        if next_code == 4094:  # 12-bit ceiling (early change reserves one)
            table, next_code = reset()
    if w:
        emit(table[w])
    emit(EOI)
    if nbuf:
        out.append((buf << (8 - nbuf)) & 0xFF)
    return bytes(out)

def _packbits_decode(data: bytes) -> bytes:
    """TIFF PackBits (compression 32773) — the Apple RLE scheme: control
    byte n in 0..127 copies n+1 literals, 129..255 repeats the next byte
    257-n times, 128 is a no-op."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        c = data[i]
        i += 1
        if c < 128:
            out += data[i: i + c + 1]
            i += c + 1
        elif c > 128:
            out += data[i: i + 1] * (257 - c)
            i += 1
    return bytes(out)


def _fp_diff(block: np.ndarray, spp: int) -> bytes:
    """Predictor 3 (TIFF TechNote 3 floating-point horizontal
    differencing, libtiff fpDiff semantics) over one (rows, cols, spp)
    float block: per row, values are byte-split big-endian MSB-plane
    first, then byte-wise differenced with stride = samples-per-pixel.
    Splitting groups the highly-correlated exponent/sign bytes, which is
    what makes DEM/elevation float COGs actually compress."""
    rows, cols, _ = block.shape
    it = block.dtype.itemsize
    be = np.ascontiguousarray(block.astype(block.dtype.newbyteorder(">")))
    b = be.view(np.uint8).reshape(rows, cols * spp, it)
    planes = np.ascontiguousarray(b.transpose(0, 2, 1)).reshape(rows, -1)
    d = planes.copy()
    d[:, spp:] -= planes[:, :-spp]  # uint8 wraparound == mod-256 diff
    return d.tobytes()


def _fp_acc(raw: bytes, rows: int, cols: int, spp: int,
            dtype: np.dtype) -> np.ndarray:
    """Inverse of ``_fp_diff`` → (rows, cols, spp) in the file dtype."""
    it = dtype.itemsize
    n = it * cols * spp
    arr = np.frombuffer(raw, np.uint8)[: rows * n].reshape(rows, n).copy()
    acc = arr.reshape(rows, n // spp, spp).cumsum(axis=1, dtype=np.uint8)
    planes = acc.reshape(rows, it, cols * spp)
    by = np.ascontiguousarray(planes.transpose(0, 2, 1))
    return by.reshape(rows, cols, spp, it).view(
        np.dtype(dtype.str.replace("<", ">"))).reshape(rows, cols, spp)         .astype(dtype)


_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4,
              10: 8, 11: 4, 12: 8, 16: 8, 17: 8, 18: 8}
_TYPE_FMT = {1: "B", 3: "H", 4: "I", 6: "b", 8: "h", 9: "i", 11: "f",
             12: "d", 16: "Q", 17: "q", 18: "Q"}
_DTYPES = {(1, 8): "u1", (1, 16): "u2", (1, 32): "u4", (2, 8): "i1",
           (2, 16): "i2", (2, 32): "i4", (3, 32): "f4", (3, 64): "f8"}


@dataclass
class TiffImage:
    """Decoded raster: ``array`` is (bands, rows, cols) to match rasterio read order."""

    array: np.ndarray
    transform: tuple[float, float, float, float, float, float] | None = None
    epsg: int | None = None
    nodata: float | None = None
    tags: dict = field(default_factory=dict)


@dataclass
class TiffMeta:
    """Parsed IFD — everything needed to decode any block without
    re-touching the header.  Blocks form a ``block_h × block_w`` grid in
    row-major order (per plane when planar=2): tiles, or strips as
    full-width tiles.  One per IFD; a COG carries a chain (full-res
    first, then reduced-resolution overviews).  The chain is cached per
    (path, mtime, size) so windowed readers fetch header/IFDs ONCE per
    file per process (on object stores each IFD fetch is a round-trip;
    at 10^5 tiles/file the re-fetch tax dominates)."""

    bo: str
    w: int
    h: int
    comp: int
    spp: int
    planar: int
    dtype: np.dtype
    predictor: int
    offsets: tuple          # block offsets (plane-major when planar=2)
    counts: tuple           # block byte counts
    block_h: int            # tile height, or min(RowsPerStrip, h)
    block_w: int            # tile width, or w for strips
    transform: tuple | None
    epsg: int | None
    nodata: float | None
    subfile_type: int = 0   # 1 = reduced-resolution overview
    photometric: int = 1    # 6 = YCbCr (the JPEG-compressed COG norm)
    jpeg_tables: bytes | None = None  # tag 347 shared abbreviated tables


class _BytesReader:
    """Reader over an in-memory blob (same interface as _RangeReader)."""

    def __init__(self, data: bytes):
        self._d = data
        self.bytes_read = 0
        self.requests = 0

    def read(self, off: int, n: int) -> bytes:
        return self._d[off: off + n]


class _RangeReader:
    """Byte-range access to a TIFF with I/O accounting — the local-file
    stand-in for COG-style HTTP Range GETs.  At 100 TB the win is reading
    ~window/image bytes per tile task instead of the whole blob;
    ``bytes_read``/``requests`` make that measurable."""

    def __init__(self, path: str):
        self._f = open(path, "rb")
        self.bytes_read = 0
        self.requests = 0

    def read(self, off: int, n: int) -> bytes:
        self._f.seek(off)
        b = self._f.read(n)
        self.requests += 1
        self.bytes_read += len(b)
        return b

    def close(self):
        self._f.close()


def _read_header(rd) -> tuple[str, bool, int]:
    """→ (byte order, bigtiff?, first IFD offset)."""
    head = rd.read(0, 16)
    bo = "<" if head[:2] == b"II" else ">"
    version = struct.unpack(bo + "H", head[2:4])[0]
    if version == 42:
        return bo, False, struct.unpack(bo + "I", head[4:8])[0]
    if version == 43:  # BigTIFF: offsets are 8 bytes
        osize, zero = struct.unpack(bo + "HH", head[4:8])
        if osize != 8 or zero != 0:
            raise ValueError("malformed BigTIFF header")
        return bo, True, struct.unpack(bo + "Q", head[8:16])[0]
    raise ValueError(f"not a TIFF (version={version})")


def _parse_one_ifd(rd, bo: str, big: bool, off: int):
    """→ (tags {tag: (type, count, inline bytes)}, next IFD offset)."""
    if big:
        n = struct.unpack(bo + "Q", rd.read(off, 8))[0]
        blob = rd.read(off + 8, 20 * n + 8)
        entry, cntfmt, inline = 20, "Q", 12
    else:
        n = struct.unpack(bo + "H", rd.read(off, 2))[0]
        blob = rd.read(off + 2, 12 * n + 4)
        entry, cntfmt, inline = 12, "I", 8
    tags = {}
    for i in range(n):
        e = blob[entry * i: entry * (i + 1)]
        tag, typ = struct.unpack(bo + "HH", e[:4])
        cnt = struct.unpack(bo + cntfmt, e[4:inline])[0]
        tags[tag] = (typ, cnt, e[inline:entry])
    nxt = struct.unpack(bo + ("Q" if big else "I"),
                        blob[entry * n: entry * n + (8 if big else 4)])[0]
    return tags, nxt


def _make_getter(rd, bo: str, big: bool, tags: dict):
    inline_cap = 8 if big else 4
    off_fmt = "Q" if big else "I"

    def get(tag, default=None):
        if tag not in tags:
            return default
        typ, cnt, raw = tags[tag]
        size = _TYPE_SIZE[typ]
        if typ == 5:  # RATIONAL
            off = struct.unpack(bo + off_fmt, raw)[0]
            vals = struct.unpack(bo + "I" * (2 * cnt), rd.read(off, 8 * cnt))
            return tuple(vals[2 * i] / vals[2 * i + 1] for i in range(cnt))
        fmt = _TYPE_FMT.get(typ)
        if fmt is None:  # ASCII / UNDEFINED → raw bytes
            if size * cnt <= inline_cap:
                return raw[: size * cnt]
            off = struct.unpack(bo + off_fmt, raw)[0]
            return rd.read(off, size * cnt)
        if size * cnt <= inline_cap:
            return struct.unpack(bo + fmt * cnt, raw[: size * cnt])
        off = struct.unpack(bo + off_fmt, raw)[0]
        return struct.unpack(bo + fmt * cnt, rd.read(off, size * cnt))

    return get


def _parse_meta(rd) -> list[TiffMeta]:
    """Parse the FULL IFD chain (level 0 = full resolution, then
    overviews in file order)."""
    bo, big, off = _read_header(rd)
    levels: list[TiffMeta] = []
    while off:
        tags, off = _parse_one_ifd(rd, bo, big, off)
        get = _make_getter(rd, bo, big, tags)

        w = get(256)[0]
        h = get(257)[0]
        comp = get(259, (1,))[0]
        if comp not in (1, 5, 7, 8, 32773, 32946):
            raise NotImplementedError(
                f"unsupported TIFF compression={comp} (supported: 1=none, "
                "5=LZW, 7=JPEG, 8/32946=deflate, 32773=PackBits)")
        spp = get(277, (1,))[0]
        planar = get(284, (1,))[0]
        photometric = get(262, (1,))[0]
        jpeg_tables = None
        if comp == 7:
            # new-style JPEG (TechNote 2): each block is an abbreviated
            # JPEG stream; tag 347 carries the shared DQT/DHT tables.
            if planar != 1 and spp > 1:
                raise NotImplementedError(
                    "JPEG-in-TIFF with planar=2 is not supported")
            jt = get(347)
            if jt:
                jpeg_tables = bytes(jt)
        bps = get(258, (1,) * spp)
        sampfmt = get(339, (1,) * spp)
        predictor = get(317, (1,))[0]
        if predictor not in (1, 2, 3):
            raise NotImplementedError(
                f"unsupported TIFF predictor={predictor}")
        dtype = np.dtype(bo + _DTYPES[(sampfmt[0], bps[0])])

        if 322 in tags:  # tiled layout
            block_w, block_h = get(322)[0], get(323)[0]
            offsets, counts = get(324), get(325)
        else:  # a strip is a full-width tile; the last one may be short
            block_w, block_h = w, min(get(278, (h,))[0], h)
            offsets, counts = get(273), get(279)

        transform = None
        scale = get(33550)
        tiepoint = get(33922)
        if scale is not None and tiepoint is not None:
            sx, sy = scale[0], scale[1]
            i, j, _, x, y, _ = tiepoint[:6]
            # world = origin + pixel * scale; y axis points down (north-up)
            transform = (sx, 0.0, x - i * sx, 0.0, -sy, y + j * sy)

        epsg = geo_code = None
        geokeys = get(34735)
        if geokeys:
            # GeoKeyDirectory: groups of 4 shorts.  Scan ALL keys and
            # prefer 3072 (ProjectedCSTypeGeoKey) over 2048
            # (GeographicTypeGeoKey): directories are sorted ascending, so
            # break-on-first would report the geographic code for
            # projected rasters carrying both.
            for k in range(4, len(geokeys), 4):
                key_id, loc, _cnt, val = geokeys[k: k + 4]
                if loc != 0:
                    continue
                if key_id == 3072:
                    epsg = int(val)
                elif key_id == 2048 and geo_code is None:
                    geo_code = int(val)
            if epsg is None:
                epsg = geo_code

        nodata = None
        nd = get(42113)
        if nd is not None:
            try:
                nodata = float(bytes(nd).rstrip(b"\x00").decode())
            except Exception:
                nodata = None

        levels.append(TiffMeta(
            bo=bo, w=w, h=h, comp=comp, spp=spp, planar=planar,
            dtype=dtype, predictor=predictor, offsets=tuple(offsets),
            counts=tuple(counts), block_h=block_h, block_w=block_w,
            transform=transform, epsg=epsg,
            nodata=nodata, subfile_type=get(254, (0,))[0],
            photometric=photometric, jpeg_tables=jpeg_tables))
    if not levels:
        raise ValueError("TIFF has no IFD")
    return levels


# per-process parsed-IFD-chain cache; key = (abspath, mtime_ns, size) so
# an overwritten file re-parses.  (Known staleness window: a same-size
# overwrite landing within one mtime tick on a coarse-granularity
# filesystem serves the old metadata — acceptable for immutable-ingest
# pipelines, where imagery is never rewritten in place.)  LRU: a full
# cache evicts ONE least-recently-used entry, never the whole cache —
# a clear would force every live file to re-parse at once.  Thread-safe:
# Spark local mode runs many task threads per worker process.
_META_CACHE: OrderedDict[tuple, list[TiffMeta]] = OrderedDict()
_META_LOCK = threading.Lock()
_META_CACHE_MAX = 4096


def _cached_meta(path: str, rd) -> tuple[list[TiffMeta], bool]:
    st = os.stat(path)
    key = (os.path.abspath(path), st.st_mtime_ns, st.st_size)
    with _META_LOCK:
        m = _META_CACHE.get(key)
        if m is not None:
            _META_CACHE.move_to_end(key)
    if m is not None:
        return m, True
    m = _parse_meta(rd)
    with _META_LOCK:
        for k in [k for k in _META_CACHE if k[0] == key[0] and k != key]:
            del _META_CACHE[k]
        while len(_META_CACHE) >= _META_CACHE_MAX:
            _META_CACHE.popitem(last=False)
        _META_CACHE[key] = m
    return m, False


def _decode_block(meta: TiffMeta, raw: bytes, rows: int, cols: int,
                  spp: int) -> np.ndarray:
    """One strip/tile → (rows, cols, spp) array (predictor undone).
    Empty ``raw`` means a sparse block (GDAL SPARSE_OK writes tile
    offset/count 0 — legal per spec): filled with nodata (or 0)."""
    if not raw:
        fill = meta.nodata if meta.nodata is not None else 0
        return np.full((rows, cols, spp), fill, dtype=meta.dtype)
    if meta.comp == 7:
        # abbreviated JPEG stream + shared tag-347 tables.  photometric 6
        # (YCbCr) gets the standard JFIF→RGB conversion inside the
        # decoder; photometric 2 means the payload is already RGB and
        # must NOT be converted.  Writers pad blocks to full tile dims
        # (MCU-aligned), so crop; pad defensively for writers that
        # emitted exact edge dims.
        from .jpeg import decode_jpeg, merge_abbreviated
        dec = decode_jpeg(merge_abbreviated(meta.jpeg_tables, raw),
                          color_transform=(None if meta.photometric != 2
                                           else False))
        if dec.shape[0] != spp:
            raise ValueError(
                f"JPEG block has {dec.shape[0]} components, IFD says {spp}")
        arr = np.moveaxis(dec, 0, -1)  # (h, w, spp)
        if arr.shape[0] < rows or arr.shape[1] < cols:
            arr = np.pad(arr, ((0, max(0, rows - arr.shape[0])),
                               (0, max(0, cols - arr.shape[1])), (0, 0)),
                         mode="edge")
        return arr[:rows, :cols].astype(meta.dtype, copy=False)
    if meta.comp in (8, 32946):
        raw = zlib.decompress(raw)
    elif meta.comp == 5:
        raw = _lzw_decode(raw)
    elif meta.comp == 32773:
        raw = _packbits_decode(raw)
    if meta.predictor == 3:
        # TechNote 3 float differencing: un-diff bytes, re-interleave the
        # big-endian byte planes (see _fp_diff)
        return _fp_acc(raw, rows, cols, spp, meta.dtype)
    arr = np.frombuffer(raw, dtype=meta.dtype)[: rows * cols * spp] \
        .reshape(rows, cols, spp)
    if meta.predictor == 2:
        # horizontal differencing: re-accumulate along columns with the
        # storage dtype so integer wraparound matches the encoder
        arr = arr.cumsum(axis=1, dtype=meta.dtype)
    return arr


# merge block fetches whose file gap is ≤ this many bytes into ONE range
# read: on object stores a request costs ~a fixed fee + bandwidth, so
# paying up to 4 KB of waste to drop a round-trip is the standard COG
# reader trade (GDAL's GDAL_HTTP_MERGE_CONSECUTIVE_RANGES behavior).
_COALESCE_GAP = 4096


def _fetch_blocks(rd, meta: TiffMeta, idxs) -> dict[int, bytes]:
    """Fetch the given block indices, coalescing file-adjacent ranges.
    Sparse blocks (count == 0) are never read — they map to b"" and
    decode as nodata fill.  The running range end is tracked as a scalar
    (not re-scanned per candidate), so coalescing is O(N) in block count
    — a full read of a 10^5-tile COG forms one run."""
    out: dict[int, bytes] = {}
    want = sorted((meta.offsets[i], meta.counts[i], i)
                  for i in set(idxs) if meta.counts[i] > 0)
    for i in set(idxs):
        if meta.counts[i] == 0:
            out[i] = b""
    run: list[tuple[int, int, int]] = []
    run_end = 0

    def flush():
        if not run:
            return
        start = run[0][0]
        raw = rd.read(start, run_end - start)
        for o, n_, i in run:
            out[i] = raw[o - start: o - start + n_]

    for b in want:
        if run and b[0] <= run_end + _COALESCE_GAP:
            run.append(b)
            run_end = max(run_end, b[0] + b[1])
        else:
            flush()
            run = [b]
            run_end = b[0] + b[1]
    flush()
    return out


def _read_region(rd, meta: TiffMeta, r0: int, c0: int, r1: int,
                 c1: int) -> np.ndarray:
    """Pixels for rows [r0,r1) × cols [c0,c1) → (C, h, w), fetching ONLY
    the blocks (tiles, or strips: full-width tiles) overlapping the
    region.  Chunky (planar=1) blocks carry all samples interleaved;
    separate-plane (planar=2, the Landsat archive layout) blocks are
    single-sample in plane-major file order (every block of band 0, then
    band 1, …) — the region fetch walks the same window once per band
    with the per-plane index offset.  Each block decodes only the rows
    that exist: tiles are stored padded, the last strip is short."""
    spp = meta.spp
    planar2 = meta.planar != 1 and spp > 1
    bspp = 1 if planar2 else spp
    bands = range(spp) if planar2 else (0,)
    bh, bw = meta.block_h, meta.block_w
    nbx = (meta.w + bw - 1) // bw
    per_plane = nbx * ((meta.h + bh - 1) // bh)
    bys = range(r0 // bh, (r1 - 1) // bh + 1)
    bxs = range(c0 // bw, (c1 - 1) // bw + 1)
    idxs = [b * per_plane + by * nbx + bx
            for b in bands for by in bys for bx in bxs]
    raws = _fetch_blocks(rd, meta, idxs)
    out = np.empty((r1 - r0, c1 - c0, spp), dtype=meta.dtype)
    for b in bands:
        for by in bys:
            y0 = by * bh
            rows = min(bh, meta.h - y0)
            rr0, rr1 = max(r0, y0), min(r1, y0 + rows)
            for bx in bxs:
                x0 = bx * bw
                blk = _decode_block(meta, raws[b * per_plane + by * nbx + bx],
                                    rows, bw, bspp)
                cc0, cc1 = max(c0, x0), min(c1, x0 + bw)
                out[rr0 - r0: rr1 - r0, cc0 - c0: cc1 - c0, b: b + bspp] = \
                    blk[rr0 - y0: rr1 - y0, cc0 - x0: cc1 - x0]
    return np.ascontiguousarray(np.moveaxis(out, -1, 0))


def _level_meta(levels: list[TiffMeta], level: int) -> TiffMeta:
    if not 0 <= level < len(levels):
        raise ValueError(
            f"level {level} out of range (file has {len(levels)})")
    return levels[level]


def _level_transform(levels: list[TiffMeta], level: int):
    """Affine for an overview level: stored if present, else derived from
    level 0 by the x/y decimation factors (GDAL stores georef only on the
    full-res IFD)."""
    m = levels[level]
    if m.transform is not None:
        return m.transform
    t0 = levels[0].transform
    if t0 is None:
        return None
    fx = levels[0].w / m.w
    fy = levels[0].h / m.h
    a, b, c, d, e, f = t0
    return (a * fx, b, c, d, e * fy, f)


def read_tiff(path_or_bytes, level: int = 0) -> TiffImage:
    """Read a TIFF/BigTIFF (strip or tiled; none/deflate; predictor 1/2)
    into a (C, Y, X) numpy array with GeoTIFF transform/EPSG/nodata.
    ``level`` selects an overview IFD (0 = full resolution; a level
    outside ``0 .. n_levels - 1`` raises ValueError);
    ``tags['n_levels']`` reports the pyramid depth."""
    if isinstance(path_or_bytes, (bytes, bytearray)):
        rd = _BytesReader(bytes(path_or_bytes))
    else:
        with open(path_or_bytes, "rb") as f:
            rd = _BytesReader(f.read())
    levels = _parse_meta(rd)
    meta = _level_meta(levels, level)
    arr = _read_region(rd, meta, 0, 0, meta.h, meta.w)
    return TiffImage(array=arr, transform=_level_transform(levels, level),
                     epsg=meta.epsg or levels[0].epsg,
                     nodata=meta.nodata if meta.nodata is not None
                     else levels[0].nodata,
                     tags={"n_levels": len(levels)})


def read_tiff_window(path: str, row_off: int, col_off: int,
                     height: int, width: int, level: int = 0) -> TiffImage:
    """Windowed read: fetches ONLY the strips/tiles overlapping rows
    [row_off, row_off+height) × cols [col_off, col_off+width) — never the
    full payload.  For tiled (COG-layout) files the fetch is proportional
    to the window in BOTH axes.  ``level`` selects an overview IFD
    (0 = full resolution; window coordinates are in THAT level's pixel
    grid).  The parsed IFD chain is cached per (path, mtime, size), so
    repeat windows on the same file issue zero header/IFD reads
    (``tags['meta_cached']``).  Returns (C, h, w) clamped to the level
    extent, affine shifted to the window origin; ``tags['bytes_read']`` /
    ``tags['requests']`` report the I/O actually performed by THIS call
    (COG/Range-GET cost model)."""
    rd = _RangeReader(path)
    try:
        levels, cached = _cached_meta(path, rd)
        meta = _level_meta(levels, level)
        r0 = max(0, int(row_off))
        c0 = max(0, int(col_off))
        r1 = min(meta.h, int(row_off) + int(height))
        c1 = min(meta.w, int(col_off) + int(width))
        if r1 <= r0 or c1 <= c0:
            raise ValueError("window does not intersect the image")
        win = _read_region(rd, meta, r0, c0, r1, c1)
        transform = None
        lt = _level_transform(levels, level)
        if lt is not None:
            a, _b, c, _d, e, f = lt
            transform = (a, 0.0, c + c0 * a, 0.0, e, f + r0 * e)
        return TiffImage(array=win, transform=transform,
                         epsg=meta.epsg or levels[0].epsg,
                         tags={"bytes_read": rd.bytes_read,
                               "requests": rd.requests,
                               "meta_cached": cached,
                               "n_levels": len(levels),
                               "full_size": (meta.h, meta.w),
                               "window": (r0, c0, r1, c1)})
    finally:
        rd.close()


def _build_level(arr: np.ndarray, *, tile, comp_code: int, predictor: int,
                 transform, epsg, nodata, subfile_type: int, big: bool,
                 planar: int = 1, jpeg_quality: int = 90):
    """→ (entries [(tag, type, values|bytes)], blocks [bytes]).  Offsets
    for tags 273/324 are placeholders (index tuples) resolved by the
    serializer once the global layout is known.  ``planar=2`` writes
    separate plane-major single-sample blocks (tag 284=2)."""
    c, h, w = arr.shape
    dt = arr.dtype
    sf = {"u": 1, "i": 2, "f": 3}[dt.kind]
    bits = dt.itemsize * 8
    chunky = np.moveaxis(arr, 0, -1)  # (h, w, c)

    def encode(block: np.ndarray) -> bytes:
        if comp_code == 7:
            # abbreviated baseline JPEG per block (tables live in tag 347)
            from .jpeg import encode_jpeg
            return encode_jpeg(np.moveaxis(block, -1, 0),
                               quality=jpeg_quality, omit_tables=True)
        if predictor == 3:
            raw = _fp_diff(block, block.shape[-1])
        else:
            if predictor == 2:
                d = block.copy()
                d[:, 1:, :] = block[:, 1:, :] - block[:, :-1, :]
                block = d
            raw = np.ascontiguousarray(block).tobytes()
        if comp_code == 8:
            return zlib.compress(raw, 6)
        if comp_code == 5:
            return _lzw_encode(raw)
        return raw

    planes = [chunky] if planar == 1 or c == 1 \
        else [chunky[..., b: b + 1] for b in range(c)]
    blocks: list[bytes] = []
    for pl in planes:
        ns = pl.shape[-1]
        if tile is not None:
            th, tw = tile
            if th % 16 or tw % 16:
                raise ValueError("TIFF tile dims must be multiples of 16")
            nty, ntx = -(-h // th), -(-w // tw)
            for ty in range(nty):
                for tx in range(ntx):
                    sub = pl[ty * th: min(h, (ty + 1) * th),
                             tx * tw: min(w, (tx + 1) * tw)]
                    if sub.shape[:2] == (th, tw):
                        t = sub
                    elif comp_code == 7:
                        # replicate edges into the pad: zero fill would
                        # put a hard step inside the edge MCUs and ring
                        # back into the valid pixels
                        t = np.pad(sub, ((0, th - sub.shape[0]),
                                         (0, tw - sub.shape[1]), (0, 0)),
                                   mode="edge")
                    else:
                        t = np.zeros((th, tw, ns), dtype=dt)
                        t[: sub.shape[0], : sub.shape[1]] = sub
                    blocks.append(encode(t))
        else:
            blocks.append(encode(pl))

    off_typ = 16 if big else 4  # LONG8 in BigTIFF
    entries: list[tuple[int, int, object]] = []

    def E(tag, typ, vals):
        entries.append((tag, typ, vals))

    if subfile_type:
        E(254, 4, (subfile_type,))
    E(256, 3 if w < 65536 else 4, (w,))
    E(257, 3 if h < 65536 else 4, (h,))
    E(258, 3, (bits,) * c)
    E(259, 3, (comp_code,))
    if comp_code == 7:
        # YCbCr photometric + shared JPEGTables (TechNote 2 layout)
        from .jpeg import jpeg_tables_stream
        E(262, 3, (6 if c == 3 else 1,))
        E(347, 7, jpeg_tables_stream(jpeg_quality, color=(c == 3)))
        if c == 3:
            E(530, 3, (2, 2))   # 4:2:0, the encoder's default subsampling
            E(531, 3, (1,))     # centered chroma positioning
    else:
        E(262, 3, (1,))
    E(277, 3, (c,))
    E(284, 3, (planar if c > 1 else 1,))
    if predictor != 1:
        E(317, 3, (predictor,))
    E(339, 3, (sf,) * c)
    if tile is not None:
        E(322, 3, (tw,))
        E(323, 3, (th,))
        E(324, off_typ, ("BLOCK_OFFSETS",))
        E(325, off_typ, tuple(len(b) for b in blocks))
    else:
        E(273, off_typ, ("BLOCK_OFFSETS",))
        E(278, 4, (h,))
        E(279, off_typ, tuple(len(b) for b in blocks))
    if transform is not None:
        a, b_, cx, d_, e, f = (float(v) for v in transform)
        if b_ != 0.0 or d_ != 0.0:
            raise ValueError("write_tiff: only north-up affines (b=d=0)")
        E(33550, 12, (a, -e, 0.0))
        E(33922, 12, (0.0, 0.0, 0.0, cx, f, 0.0))
    if epsg is not None:
        epsg = int(epsg)
        keys = [(1024, 0, 1, 2 if epsg == 4326 else 1), (1025, 0, 1, 1)]
        if epsg == 4326:
            keys.append((2048, 0, 1, epsg))
        else:
            if 32601 <= epsg <= 32760:
                # WGS84 UTM: also name the underlying geographic CRS, the
                # way GDAL does — readers must prefer 3072 over 2048
                keys.append((2048, 0, 1, 4326))
            keys.append((3072, 0, 1, epsg))
        keys.sort()
        gk = [1, 1, 0, len(keys)]
        for k in keys:
            gk.extend(k)
        E(34735, 3, tuple(gk))
    if nodata is not None:
        E(42113, 2, f"{nodata:g}".encode() + b"\x00")
    entries.sort(key=lambda t: t[0])
    return entries, blocks


def write_tiff(path: str, array: np.ndarray, *,
               transform: tuple | None = None, epsg: int | None = None,
               nodata: float | None = None,
               tile: tuple[int, int] | None = None,
               compress: str | None = None, predictor: int = 1,
               overviews: list[int] | None = None,
               bigtiff: bool = False, planar: int = 1,
               jpeg_quality: int = 90,
               overview_resampling: str = "nearest") -> None:
    """Write a (C, Y, X) or (Y, X) array as a little-endian chunky
    TIFF/BigTIFF.

    Default is a single uncompressed strip (debug/export parity with the
    reference fixtures).  ``tile=(th, tw)`` writes a tiled layout (tags
    322-325, dims must be multiples of 16 per the TIFF spec, edge tiles
    zero-padded); ``compress='deflate'`` zlib-compresses each block (tag
    259=8), ``compress='lzw'`` uses TIFF LZW with early change (tag
    259=5) and ``compress='jpeg'`` writes new-style JPEG (tag 259=7,
    TechNote 2): each block is an abbreviated baseline JPEG stream, the
    DQT/DHT tables are shared once via tag 347 (JPEGTables), photometric
    is YCbCr (6) with 4:2:0 subsampling for 3-band uint8 (tags 530/531)
    — the layout of most real-world aerial/satellite COGs; lossy, tune
    with ``jpeg_quality``, JPEG edge tiles are edge-replicated into the
    pad instead of zeroed; ``planar=2`` writes separate plane-major
    single-sample
    blocks (tag 284=2, the Landsat archive layout);
    ``predictor=2`` applies horizontal differencing (tag 317,
    integer dtypes only) and ``predictor=3`` the TechNote-3 floating-
    point differencing (big-endian byte-plane split + stride-spp byte
    diff — float dtypes only, what real DEM COGs ship);
    ``overviews=[2, 4, ...]`` appends reduced-resolution IFDs
    (NewSubfileType=1, georef derived from level 0 by readers;
    ``overview_resampling='average'`` for exact block-mean anti-aliased
    pyramids, default ``'nearest'`` keeps categorical rasters crisp) —
    together, the standard COG layout.  ``bigtiff=True`` writes format version 43 with 8-byte
    offsets — REQUIRED for files past 4 GB, which 100 TB-scale imagery
    hits routinely.  ``transform`` (north-up affine (a,b,c,d,e,f)),
    ``epsg`` and ``nodata`` emit the GeoTIFF tags read_tiff parses back.
    """
    if array.ndim == 2:
        array = array[None]
    arr = np.asarray(array)
    if arr.dtype.byteorder == ">":
        arr = arr.astype(arr.dtype.newbyteorder("<"))
    codes = {None: 1, "none": 1, "deflate": 8, "zlib": 8, "lzw": 5,
             "jpeg": 7}
    if compress not in codes:
        raise ValueError(f"unsupported compress={compress!r} (supported: "
                         f"{', '.join(map(repr, codes))})")
    comp_code = codes[compress]
    if predictor not in (1, 2, 3):
        raise ValueError(f"unsupported predictor={predictor}")
    if predictor == 2 and arr.dtype.kind == "f":
        raise ValueError("predictor=2 is integer-only (3 is the float one)")
    if predictor == 3 and arr.dtype.kind != "f":
        raise ValueError("predictor=3 (float differencing) needs a float "
                         f"dtype, got {arr.dtype}")
    if planar not in (1, 2):
        raise ValueError(f"unsupported planar={planar}")
    if comp_code == 7:
        if arr.dtype != np.uint8:
            raise ValueError("compress='jpeg' is 8-bit only "
                             f"(got {arr.dtype})")
        if arr.shape[0] not in (1, 3):
            raise ValueError("compress='jpeg' needs 1 or 3 bands "
                             f"(got {arr.shape[0]})")
        if predictor != 1:
            raise ValueError("predictor does not apply to compress='jpeg'")
        if planar != 1:
            raise ValueError("compress='jpeg' requires planar=1")
        if tile is None and (arr.shape[1] > 65535 or arr.shape[2] > 65535):
            raise ValueError("strip JPEG is capped at 65535 px per side "
                             "(SOF dims are 16-bit) — write tiled")

    if overview_resampling not in ("nearest", "average"):
        raise ValueError(
            f"unsupported overview_resampling={overview_resampling!r}")
    pyramid = [arr]
    for fct in overviews or []:
        if overview_resampling == "average":
            # GDAL's default for imagery overviews: exact block mean
            # (anti-aliased zoom-outs); nearest keeps the legacy behavior
            # and categorical rasters crisp
            from .raster import resize_average
            pyramid.append(np.ascontiguousarray(
                resize_average(arr, fct, fct)))
        else:
            pyramid.append(np.ascontiguousarray(arr[:, ::fct, ::fct]))

    built = []
    for li, a in enumerate(pyramid):
        built.append(_build_level(
            a, tile=tile, comp_code=comp_code, predictor=predictor,
            transform=transform if li == 0 else None,
            epsg=epsg if li == 0 else None,
            nodata=nodata if li == 0 else None,
            subfile_type=0 if li == 0 else 1, big=bigtiff, planar=planar,
            jpeg_quality=jpeg_quality))

    # ---- layout: header | all pixel blocks | IFD0+OOL0 | IFD1+OOL1 | ...
    bo = "<"
    hdr_len = 16 if bigtiff else 8
    inline_cap = 8 if bigtiff else 4
    entry_sz = 20 if bigtiff else 12
    cnt_sz = 8 if bigtiff else 2
    next_sz = 8 if bigtiff else 4
    off_fmt = "Q" if bigtiff else "I"
    cnt_fmt = "Q" if bigtiff else "H"

    pos = hdr_len
    level_offs: list[list[int]] = []
    for _entries, blocks in built:
        offs = []
        for b in blocks:
            offs.append(pos)
            pos += len(b)
        level_offs.append(offs)
    if pos & 1:
        pos += 1
    data_end = pos

    def entry_raw(typ, vals, block_offs):
        if isinstance(vals, (bytes, bytearray)):
            return bytes(vals), len(vals)
        if vals == ("BLOCK_OFFSETS",):
            vals = tuple(block_offs)
        return struct.pack(bo + _TYPE_FMT[typ] * len(vals), *vals), len(vals)

    # serialize IFDs sequentially; each needs its own start offset and the
    # next IFD's, so compute out-of-line layouts (relative to each IFD's
    # own OOL area) first, then absolute starts
    for li, (entries, _blocks) in enumerate(built):
        ool = bytearray()
        rel: list[tuple[bytes, int | None]] = []
        for tag, typ, vals in entries:
            raw, _cnt = entry_raw(typ, vals, level_offs[li])
            if len(raw) <= inline_cap:
                rel.append((raw, None))
            else:
                if len(ool) & 1:
                    ool += b"\x00"
                rel.append((raw, len(ool)))
                ool += raw
        built[li] = (entries, _blocks, rel, bytes(ool))  # type: ignore

    ifd_starts = []
    cur = data_end
    for entries, _blocks, rel, ool in built:  # type: ignore
        ifd_starts.append(cur)
        cur += cnt_sz + entry_sz * len(entries) + next_sz + len(ool)
        if cur & 1:
            cur += 1

    out = bytearray()
    if bigtiff:
        out += b"II" + struct.pack("<HHHQ", 43, 8, 0, ifd_starts[0])
    else:
        out += b"II" + struct.pack("<HI", 42, ifd_starts[0])
    for _entries, blocks, _rel, _ool in built:  # type: ignore
        for b in blocks:
            out += b
    while len(out) < data_end:
        out += b"\x00"
    for li, (entries, _blocks, rel, ool) in enumerate(built):  # type: ignore
        start = ifd_starts[li]
        ool_base = start + cnt_sz + entry_sz * len(entries) + next_sz
        body = bytearray()
        body += struct.pack(bo + cnt_fmt, len(entries))
        for (tag, typ, vals), (raw, rel_off) in zip(entries, rel):
            cnt = (len(raw) if isinstance(vals, (bytes, bytearray))
                   else (len(vals) if vals != ("BLOCK_OFFSETS",)
                         else len(level_offs[li])))
            body += struct.pack(bo + "HH", tag, typ)
            body += struct.pack(bo + off_fmt, cnt)[:cnt_sz] \
                if bigtiff else struct.pack(bo + "I", cnt)
            if rel_off is None:
                body += raw + b"\x00" * (inline_cap - len(raw))
            else:
                body += struct.pack(bo + off_fmt, ool_base + rel_off)
        nxt = ifd_starts[li + 1] if li + 1 < len(built) else 0
        body += struct.pack(bo + off_fmt, nxt)
        body += ool
        while len(body) % 2:
            body += b"\x00"
        assert len(out) == start, (len(out), start)
        out += body
    with open(path, "wb") as f:
        f.write(bytes(out))
