"""Golden table for the pure-Python codecs: md5s of ``encode_jpeg`` bytes
and decoded pixels over a grid of encoder settings, and of
``read_tiff_window`` arrays (with the I/O each read costs) over
strip/tiled × compression × planar files from ``write_tiff``.

Every codec edit that is meant to be a refactor must leave this table
unchanged; an edit that moves a byte fails here before it can reach an
image pipeline.  Inputs are integer-only arithmetic, so the table does
not depend on the host's floating-point or random-number libraries.
Regenerate (only for an intended format change) with
``python -m tests.test_codec_golden``.
"""

import hashlib

import numpy as np
import pytest

from solaris_spark.functions import jpeg, tiffio


def _image(c, h, w, dtype=np.uint8):
    """Deterministic (C, H, W) test image: smooth ramps plus hashed
    integer noise, so both flat and busy blocks occur."""
    yy, xx = np.mgrid[0:h, 0:w].astype(np.int64)
    out = []
    for k in range(c):
        smooth = (xx * (5 + 2 * k) + yy * (3 + k)) % 200
        noise = ((xx * 73856093) ^ (yy * 19349663) ^ (k * 83492791)) % 41
        out.append(smooth + noise)
    return np.stack(out).astype(dtype)


def _md5(*arrays_or_bytes) -> str:
    m = hashlib.md5()
    for a in arrays_or_bytes:
        if isinstance(a, np.ndarray):
            m.update(f"{a.dtype.str}{a.shape}".encode())
            a = np.ascontiguousarray(a).tobytes()
        m.update(a)
    return m.hexdigest()[:16]


# id → (channels, h, w, quality, subsample, restart, progressive,
#       abbreviated + JPEGTables, color_transform)
JPEG_CASES = {
    "g8-q75": (1, 8, 8, 75, None, 0, False, False, None),
    "g17x23-q50": (1, 17, 23, 50, None, 0, False, False, None),
    "g33x50-q90-rst3": (1, 33, 50, 90, None, 3, False, False, None),
    "g33x50-q90-prog": (1, 33, 50, 90, None, 0, True, False, None),
    "g101x77-q25-prog": (1, 101, 77, 25, None, 0, True, False, None),
    "g33x50-q60-abbr": (1, 33, 50, 60, None, 0, False, True, None),
    "c8-q90": (3, 8, 8, 90, None, 0, False, False, None),
    "c17x23-q75-420": (3, 17, 23, 75, None, 0, False, False, None),
    "c17x23-q75-444": (3, 17, 23, 75, False, 0, False, False, None),
    "c40x9-q100-420-rst3": (3, 40, 9, 100, None, 3, False, False, None),
    "c40x9-q100-444-rst3": (3, 40, 9, 100, False, 3, False, False, None),
    "c64x48-q50-420-prog": (3, 64, 48, 50, None, 0, True, False, None),
    "c64x48-q50-444-prog": (3, 64, 48, 50, False, 0, True, False, None),
    "c101x77-q85-rst5": (3, 101, 77, 85, None, 5, False, False, None),
    "c101x77-q85-prog": (3, 101, 77, 85, None, 0, True, False, None),
    "c33x50-q60-abbr": (3, 33, 50, 60, None, 0, False, True, None),
    "c33x50-q95-444-raw": (3, 33, 50, 95, False, 0, False, False, False),
}

# id → md5 of the stream bytes, md5 of the decoded pixels
JPEG_GOLDEN = {
    "c101x77-q85-prog": ("c806a8a43de59e7c", "0d0856b140ad7eb3"),
    "c101x77-q85-rst5": ("4c9a8ccd70fe3309", "0d0856b140ad7eb3"),
    "c17x23-q75-420": ("d34d7b16b311287c", "8f309802f41ae730"),
    "c17x23-q75-444": ("6521c249ff762389", "1c69ce550b9933e9"),
    "c33x50-q60-abbr": ("9d50519ded27ee9f", "8c6e226cf9923624"),
    "c33x50-q95-444-raw": ("5affbfcc07026cbd", "62b67c45d0ffd6fe"),
    "c40x9-q100-420-rst3": ("89ffcbb5a0a219e8", "36a397b942cc08d0"),
    "c40x9-q100-444-rst3": ("1291915e2e19edb1", "06355145a65cfbec"),
    "c64x48-q50-420-prog": ("b1dad3325dcc2e9b", "354fc6ba7858ddaf"),
    "c64x48-q50-444-prog": ("0a0d98e6104edde2", "53b31e99d7cb63db"),
    "c8-q90": ("c96bfcdec043d3e2", "45b3a63f9380cf14"),
    "g101x77-q25-prog": ("9ec5f1932e2f7036", "90f1a5476af947fb"),
    "g17x23-q50": ("50b55177ab368c09", "d75482de29061767"),
    "g33x50-q60-abbr": ("574a04f5113d954a", "9c1737568fce097e"),
    "g33x50-q90-prog": ("95d7bf59e31b9641", "f9fd1059d888a08e"),
    "g33x50-q90-rst3": ("e44db157175a616b", "f9fd1059d888a08e"),
    "g8-q75": ("b9c508374793371a", "b05175a91736e79b"),
}


@pytest.mark.parametrize("case", sorted(JPEG_CASES))
def test_jpeg_golden(case):
    assert _jpeg_digest(case) == JPEG_GOLDEN[case]


def _jpeg_digest(case):
    c, h, w, q, sub, rst, prog, abbr, ct = JPEG_CASES[case]
    buf = jpeg.encode_jpeg(_image(c, h, w), quality=q, subsample=sub,
                           restart_interval=rst, progressive=prog,
                           omit_tables=abbr)
    full = jpeg.merge_abbreviated(
        jpeg.jpeg_tables_stream(q, color=c == 3), buf) if abbr else buf
    return _md5(buf), _md5(jpeg.decode_jpeg(full, color_transform=ct))


# id → (dtype, tile, compress, planar, predictor)
TIFF_CASES = {
    f"{lay}-{comp}-p{planar}": ("u1", tile, comp, planar, 1)
    for lay, tile in (("strip", None), ("tiled", (32, 32)))
    for comp in ("none", "deflate", "lzw", "jpeg")
    for planar in (1, 2) if not (comp == "jpeg" and planar == 2)
}
TIFF_CASES["tiled-deflate-u2-pred2"] = ("u2", (32, 48), "deflate", 1, 2)
TIFF_CASES["strip-lzw-f4-pred3"] = ("f4", None, "lzw", 2, 3)

# (row_off, col_off, height, width, level)
TIFF_READS = [(0, 0, 70, 90, 0), (13, 29, 40, 37, 0), (60, 80, 30, 30, 0),
              (0, 0, 35, 45, 1), (5, 7, 20, 30, 1)]

# id → md5 of every read"s array, then (bytes_read, requests) per read;
# deflate"s bytes_read is left out (zlib builds differ in their output)
TIFF_GOLDEN = {
    "strip-deflate-p1": (
        "4738f8fd71041cc9",
        ((None, 10), (None, 1), (None, 1), (None, 1), (None, 1))),
    "strip-deflate-p2": (
        "4738f8fd71041cc9",
        ((None, 14), (None, 1), (None, 1), (None, 1), (None, 1))),
    "strip-jpeg-p1": (
        "392dae179d7e0f2c",
        ((6272, 12), (4724, 1), (4724, 1), (1595, 1), (1595, 1))),
    "strip-lzw-f4-pred3": (
        "1fb511fcbfc9d4af",
        ((74724, 14), (74324, 1), (74324, 1), (18945, 1), (18945, 1))),
    "strip-lzw-p1": (
        "4738f8fd71041cc9",
        ((25729, 10), (25401, 1), (25401, 1), (6259, 1), (6259, 1))),
    "strip-lzw-p2": (
        "4738f8fd71041cc9",
        ((23969, 14), (23593, 1), (23593, 1), (5789, 1), (5789, 1))),
    "strip-none-p1": (
        "4738f8fd71041cc9",
        ((19228, 10), (18900, 1), (18900, 1), (4725, 1), (4725, 1))),
    "strip-none-p2": (
        "4738f8fd71041cc9",
        ((19276, 14), (18900, 1), (18900, 1), (4725, 1), (4725, 1))),
    "tiled-deflate-p1": (
        "4738f8fd71041cc9",
        ((None, 14), (None, 1), (None, 1), (None, 1), (None, 1))),
    "tiled-deflate-p2": (
        "4738f8fd71041cc9",
        ((None, 14), (None, 1), (None, 3), (None, 1), (None, 1))),
    "tiled-deflate-u2-pred2": (
        "c435b319510e08e8",
        ((None, 14), (None, 1), (None, 1), (None, 1), (None, 1))),
    "tiled-jpeg-p1": (
        "294de227ca0f2535",
        ((6944, 16), (4048, 1), (1871, 1), (2056, 1), (1336, 1))),
    "tiled-lzw-p1": (
        "4738f8fd71041cc9",
        ((25321, 14), (22676, 1), (5456, 1), (6419, 1), (5771, 1))),
    "tiled-lzw-p2": (
        "4738f8fd71041cc9",
        ((24018, 14), (22598, 1), (5384, 3), (6113, 1), (5858, 1))),
    "tiled-none-p1": (
        "4738f8fd71041cc9",
        ((28104, 14), (18432, 1), (6144, 2), (12288, 1), (6144, 1))),
    "tiled-none-p2": (
        "4738f8fd71041cc9",
        ((28312, 14), (24576, 1), (12288, 3), (12288, 1), (10240, 1))),
}


@pytest.mark.parametrize("case", sorted(TIFF_CASES))
def test_tiff_golden(case, tmp_path):
    assert _tiff_digest(case, str(tmp_path / "g.tif")) == TIFF_GOLDEN[case]


def _tiff_digest(case, path):
    dtype, tile, comp, planar, pred = TIFF_CASES[case]
    arr = _image(3, 70, 90, np.dtype(dtype))
    if dtype == "f4":
        arr = arr * np.float32(0.37) - np.float32(20)
    elif dtype == "u2":
        arr = arr * np.uint16(251)
    tiffio.write_tiff(path, arr, tile=tile, compress=comp, planar=planar,
                      predictor=pred, overviews=[2])
    reads = [tiffio.read_tiff_window(path, *r) for r in TIFF_READS]
    io = tuple((None if comp == "deflate" else t.tags["bytes_read"],
                t.tags["requests"]) for t in reads)
    return _md5(*(r.array for r in reads)), io


if __name__ == "__main__":
    import tempfile

    print("JPEG_GOLDEN = {")
    for k in sorted(JPEG_CASES):
        print(f"    {k!r}: {_jpeg_digest(k)!r},")
    print("}")
    print("TIFF_GOLDEN = {")
    with tempfile.TemporaryDirectory() as d:
        for i, k in enumerate(sorted(TIFF_CASES)):
            print(f"    {k!r}: {_tiff_digest(k, f'{d}/{i}.tif')!r},")
    print("}")
