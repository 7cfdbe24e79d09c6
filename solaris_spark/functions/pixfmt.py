"""The engine's pixel format: every image and tile blob is a ``fmt`` string
plus bytes, and this module is the one place that maps between the two and
a (C, Y, X) array.

- ``raw-{u|i|f}{bits}-c{C}``: little-endian, C-order (C, Y, X) samples of
  that NumPy kind and width, e.g. ``raw-u16-c1``, ``raw-f32-c3``.
- ``png``: functions/png.py (8/16-bit, 1-4 channels).
- ``jpeg`` / ``jpg``: functions/jpeg.py (baseline and progressive decode,
  JFIF encode).

Anything else (``webp`` included) raises NotImplementedError: it needs a
codec this engine does not ship.
"""

from __future__ import annotations

import re

import numpy as np

_RAW = re.compile(r"raw-([uif])(\d+)-c(\d+)")


def _raw_layout(fmt: str, w: int, h: int) -> tuple[np.dtype, int]:
    """(little-endian sample dtype, channel count) of a ``raw-…`` fmt."""
    m = _RAW.fullmatch(fmt)
    try:
        dt = np.dtype(f"<{m[1]}{int(m[2]) // 8}")
    except TypeError:  # no match, or no NumPy type of that kind and width
        dt = None
    if dt is None or dt.itemsize * 8 != int(m[2]) or int(m[3]) < 1:
        raise ValueError(f"fmt={fmt!r} {w}x{h}: not a raw-{{u|i|f}}{{bits}}"
                         "-c{C} format with a NumPy sample type and C >= 1")
    return dt, int(m[3])


def decode(fmt: str, buf: bytes, w: int, h: int) -> np.ndarray:
    """Blob → (C, h, w) array.  Raw blobs are zero-copy read-only views;
    a blob whose size does not match (w, h) raises ValueError."""
    if fmt.startswith("raw-"):
        dt, nchan = _raw_layout(fmt, w, h)
        want = w * h * nchan * dt.itemsize
        if len(buf) != want:
            raise ValueError(
                f"fmt={fmt} {w}x{h}: blob has {len(buf)} bytes, expected "
                f"{want} (w·h·C·itemsize = {w}·{h}·{nchan}·{dt.itemsize})")
        return np.frombuffer(buf, dtype=dt).reshape(nchan, h, w)
    if fmt == "png":
        from .png import decode_png
        arr = decode_png(bytes(buf))
    elif fmt in ("jpeg", "jpg"):
        from .jpeg import decode_jpeg
        arr = decode_jpeg(bytes(buf))
    else:
        raise NotImplementedError(
            f"no codec for image fmt={fmt!r} (raw-*, png, jpeg/jpg are "
            "native)")
    if arr.shape[1:] != (h, w):
        raise ValueError(f"fmt={fmt}: decoded image is "
                         f"{arr.shape[2]}x{arr.shape[1]}, the row says {w}x{h}")
    return arr


def encode(arr: np.ndarray, like_fmt: str) -> tuple[bytes, str]:
    """(C, Y, X) array → (blob, fmt).  ``png`` and ``jpeg``/``jpg`` (quality
    90) re-encode in that codec; any other ``like_fmt`` gives raw bytes
    named from the array's dtype and channel count."""
    if like_fmt == "png":
        from .png import encode_png
        return encode_png(arr), "png"
    if like_fmt in ("jpeg", "jpg"):
        from .jpeg import encode_jpeg
        return encode_jpeg(arr, quality=90), like_fmt
    le = arr.astype(arr.dtype.newbyteorder("<"), copy=False)
    return le.tobytes(), raw_fmt(arr)


def raw_fmt(arr: np.ndarray) -> str:
    """The ``raw-…`` fmt of a (C, Y, X) array's samples and channels."""
    dt = arr.dtype
    return f"raw-{dt.kind}{dt.itemsize * 8}-c{arr.shape[0]}"
