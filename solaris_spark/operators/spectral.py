"""SAR band-math + optical color-space DataFrame operators.

Wraps the vectorized kernels in functions/spectral.py over a generic
spectral-image schema (image_id, pixels binary, h, w, nchan, dtype —
dtype is any numpy name incl. complex64/complex128 for SAR data).
One blob map (blobs.map_blobs) per operator, output batches bounded at the
session's 4 MB Arrow batch size (session.py: small enough that encoding
overlaps the UDF) even when an operator widens the dtype.
Reference surface: solaris/preproc/sar.py:17-170, optical.py:9-92.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from ..functions import spectral as S
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


def amplitude(images: DataFrame) -> DataFrame:
    return band_math(images, S.amplitude)


def intensity(images: DataFrame) -> DataFrame:
    return band_math(images, S.intensity)


def in_phase(images: DataFrame) -> DataFrame:
    return band_math(images, S.in_phase)


def quadrature(images: DataFrame) -> DataFrame:
    return band_math(images, S.quadrature)


def phase(images: DataFrame) -> DataFrame:
    return band_math(images, S.phase)


def conjugate(images: DataFrame) -> DataFrame:
    return band_math(images, S.conjugate)


def decibels(images: DataFrame, flag="min") -> DataFrame:
    return band_math(images, lambda a: S.decibels(a, flag))


def multilook(images: DataFrame, kernel_size=5,
              method: str = "avg") -> DataFrame:
    return band_math(images, lambda a: S.multilook(a, kernel_size, method))


def rgb_to_hsv(images: DataFrame, rgbmax: float = 255.0) -> DataFrame:
    return band_math(images, lambda a: S.rgb_to_hsv(a, rgbmax))


def hsv_to_rgb(images: DataFrame, rgbmax: float = 255.0) -> DataFrame:
    return band_math(images, lambda a: S.hsv_to_rgb(a, rgbmax))


def rgb_to_hsl(images: DataFrame, rgbmax: float = 255.0) -> DataFrame:
    return band_math(images, lambda a: S.rgb_to_hsl(a, rgbmax))


def hsl_to_rgb(images: DataFrame, rgbmax: float = 255.0) -> DataFrame:
    return band_math(images, lambda a: S.hsl_to_rgb(a, rgbmax))
