"""SAR band-math + optical color-space DataFrame operator.

``band_math(df, fn)`` maps any (C, Y, X) kernel — those of
functions/spectral.py, e.g. ``band_math(df, S.intensity)`` or
``band_math(df, lambda a: S.multilook(a, 3, "med"))`` — over a generic
spectral-image schema (image_id, pixels binary, h, w, nchan, dtype —
dtype is any numpy name incl. complex64/complex128 for SAR data).
One blob map (blobs.map_blobs), output batches bounded at the
session's 4 MB Arrow batch size (session.py: small enough that encoding
overlaps the UDF) even when ``fn`` widens the dtype.
Reference surface: solaris/preproc/sar.py:17-170, optical.py:9-92.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from .blobs import map_blobs

SPECTRAL_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("pixels", T.BinaryType(), False),
    T.StructField("h", T.IntegerType(), False),
    T.StructField("w", T.IntegerType(), False),
    T.StructField("nchan", T.IntegerType(), False),
    T.StructField("dtype", T.StringType(), False),
])


def band_math(images: DataFrame,
              fn: Callable[[np.ndarray], np.ndarray]) -> DataFrame:
    """Generic per-image band math (sar.py:17-32 BandMath): `fn` maps a
    (C, Y, X) array to a new array; 2-D outputs get a channel axis.  The
    output pixels are little-endian, and ``dtype`` names them so."""
    return map_blobs(
        images.select("image_id", "pixels", "h", "w", "nchan", "dtype"),
        SPECTRAL_SCHEMA, _band_rows(fn))


def _band_rows(fn: Callable[[np.ndarray], np.ndarray]):
    """The SPECTRAL_SCHEMA row of one image row, its pixels mapped by fn."""

    def rows_of(r):
        arr = np.frombuffer(r.pixels, dtype=np.dtype(r.dtype)) \
            .reshape(r.nchan, r.h, r.w)
        res = fn(arr)
        if res.ndim == 2:
            res = res[None]
        yield (r.image_id, res, res.shape[1], res.shape[2], res.shape[0],
               str(res.dtype.newbyteorder("<")))

    return rows_of

