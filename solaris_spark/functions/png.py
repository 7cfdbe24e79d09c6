"""Pure-Python PNG codec (zlib inflate/deflate + scanline filters).

Turns ``fmt='png'`` in the multimodal operators from an import gate into
a real in-sandbox capability (VERDICT r3 next-round #6): grayscale /
gray+alpha / RGB / RGBA, 8- and 16-bit, all five scanline filters on
decode (None/Sub/Up/Average/Paeth), non-interlaced.  Palette and Adam7
PNGs raise ``NotImplementedError``.

Array convention matches the rest of the engine: (C, H, W), uint8 or
uint16 (16-bit is big-endian on the wire per the PNG spec).  Round-trips
are lossless (PNG is), so encode→decode equality is exact — PSNR = ∞.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"
# color type → channel count
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}
_COLOR_TYPE = {1: 0, 2: 4, 3: 2, 4: 6}


def _chunk(typ: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))


def encode_png(array: np.ndarray, filter_type: int = 0,
               level: int = 6) -> bytes:
    """(C, H, W) or (H, W) uint8/uint16 → PNG bytes.  ``filter_type``
    selects the per-scanline filter (0-4) — mainly to let tests exercise
    every decoder branch; 0 is the fast default."""
    if array.ndim == 2:
        array = array[None]
    arr = np.asarray(array)
    if arr.dtype == np.uint8:
        depth = 8
    elif arr.dtype == np.uint16:
        depth = 16
    else:
        raise ValueError(f"PNG supports uint8/uint16, got {arr.dtype}")
    c, h, w = arr.shape
    if c not in _COLOR_TYPE:
        raise ValueError(f"PNG supports 1/2/3/4 channels, got {c}")
    if filter_type not in (0, 1, 2, 3, 4):
        raise ValueError(f"invalid filter_type {filter_type}")

    # interleave to (H, W, C) rows of big-endian samples
    pix = np.moveaxis(arr, 0, -1)
    if depth == 16:
        pix = pix.astype(">u2")
    raw = np.ascontiguousarray(pix).reshape(h, -1).view(np.uint8)
    bpp = c * (depth // 8)

    out = bytearray()
    prior = np.zeros(raw.shape[1], dtype=np.uint8)
    for y in range(h):
        line = raw[y]
        if filter_type == 0:
            filt = line
        elif filter_type == 1:  # Sub
            left = np.concatenate([np.zeros(bpp, np.uint8), line[:-bpp]])
            filt = line - left
        elif filter_type == 2:  # Up
            filt = line - prior
        elif filter_type == 3:  # Average
            left = np.concatenate([np.zeros(bpp, np.uint8), line[:-bpp]])
            filt = line - ((left.astype(np.uint16)
                            + prior.astype(np.uint16)) // 2).astype(np.uint8)
        else:  # Paeth
            left = np.concatenate([np.zeros(bpp, np.uint8), line[:-bpp]])
            ul = np.concatenate([np.zeros(bpp, np.uint8), prior[:-bpp]])
            filt = line - _paeth(left, prior, ul)
        out.append(filter_type)
        out += filt.tobytes()
        prior = line

    ihdr = struct.pack(">IIBBBBB", w, h, depth, _COLOR_TYPE[c], 0, 0, 0)
    return (_SIG + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes(out), level))
            + _chunk(b"IEND", b""))


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Vectorized Paeth predictor (PNG spec, per-byte)."""
    ai, bi, ci = (x.astype(np.int16) for x in (a, b, c))
    p = ai + bi - ci
    pa, pb, pc = np.abs(p - ai), np.abs(p - bi), np.abs(p - ci)
    return np.where((pa <= pb) & (pa <= pc), a,
                    np.where(pb <= pc, b, c)).astype(np.uint8)


def decode_png(buf: bytes) -> np.ndarray:
    """PNG bytes → (C, H, W) uint8/uint16."""
    if bytes(buf[:8]) != _SIG:
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    w = h = depth = color = None
    interlace = 0
    idat = bytearray()
    n = len(buf)
    while pos + 8 <= n:
        ln, typ = struct.unpack(">I4s", buf[pos: pos + 8])
        data = bytes(buf[pos + 8: pos + 8 + ln])
        pos += 12 + ln
        if typ == b"IHDR":
            w, h, depth, color, _comp, _filt, interlace = \
                struct.unpack(">IIBBBBB", data)
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
    if w is None:
        raise ValueError("PNG missing IHDR")
    if color not in _CHANNELS:
        raise NotImplementedError(
            f"PNG color type {color} (palette) needs a real imaging stack")
    if depth not in (8, 16):
        raise NotImplementedError(f"PNG bit depth {depth} unsupported")
    if interlace:
        raise NotImplementedError("Adam7 interlaced PNG unsupported")

    c = _CHANNELS[color]
    bpp = c * (depth // 8)
    stride = w * bpp
    raw = zlib.decompress(bytes(idat))
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG payload size mismatch")

    recon = np.empty((h, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        off = y * (stride + 1)
        ft = raw[off]
        line = np.frombuffer(raw, dtype=np.uint8,
                             count=stride, offset=off + 1).copy()
        if ft == 0:
            pass
        elif ft == 2:  # Up
            line += prior
        elif ft == 1:  # Sub — per-residue-class cumsum, uint8 wraparound
            line = line.reshape(-1, bpp).cumsum(
                axis=0, dtype=np.uint8).reshape(-1)
        elif ft == 3:  # Average — sequential in x (left dependency)
            for x in range(stride):
                left = line[x - bpp] if x >= bpp else 0
                line[x] = (int(line[x])
                           + ((int(left) + int(prior[x])) >> 1)) & 0xFF
        elif ft == 4:  # Paeth — sequential in x
            for x in range(stride):
                a = int(line[x - bpp]) if x >= bpp else 0
                b = int(prior[x])
                cc = int(prior[x - bpp]) if x >= bpp else 0
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                line[x] = (int(line[x]) + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ft}")
        recon[y] = line
        prior = line

    if depth == 16:
        img = recon.reshape(h, w * c * 2).view(">u2").astype(np.uint16)
        img = img.reshape(h, w, c)
    else:
        img = recon.reshape(h, w, c)
    return np.ascontiguousarray(np.moveaxis(img, -1, 0))
