"""Multimodal columns: image/audio/video as opaque binary + typed metadata.
Every operator returns its rows through blobs.map_blobs: resize, crop and
frame sampling emit blobs, feature extraction small scalar rows.

Images decode and re-encode through functions/pixfmt.py: raw formats, PNG
and JPEG (baseline and progressive) are native codecs; other image formats
(WebP) raise NotImplementedError.  Audio and video use deterministic fakes
(int16 PCM, raw u8 frames) where a soundfile / av decode would slot in.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from ..functions import pixfmt
from ..functions.raster import area_mean, phash64
from .blobs import map_blobs
from .imageops import IMAGE_SCHEMA

# ---------------------------------------------------------------------------
# audio / video decoders — deterministic fakes
# ---------------------------------------------------------------------------


def decode_audio_fake(buf: bytes, sample_rate: int) -> np.ndarray:
    """Deterministic fake audio decode: interpret bytes as int16 PCM.
    A real soundfile/librosa decode slots in here."""
    return np.frombuffer(buf, dtype="<i2").astype(np.float32) / 32768.0


def sample_video_frames_fake(buf: bytes, w: int, h: int, n_frames: int,
                             sample_every: int) -> list[np.ndarray]:
    """Deterministic fake video: bytes = n_frames raw u8 grayscale frames.
    Frame-sampling logic (the Spark-relevant part) is real."""
    frame_sz = w * h
    frames = []
    for i in range(0, n_frames, sample_every):
        off = i * frame_sz
        if off + frame_sz <= len(buf):
            frames.append(pixfmt.decode("raw-u8-c1", buf[off:off + frame_sz],
                                        w, h)[0])
    return frames


# ---------------------------------------------------------------------------
# operators
# ---------------------------------------------------------------------------

FEATURE_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("mean", T.ArrayType(T.DoubleType()), True),   # per channel
    T.StructField("std", T.ArrayType(T.DoubleType()), True),
    T.StructField("edge_density", T.DoubleType(), True),
    T.StructField("phash", T.LongType(), True),
])


def image_features(images: DataFrame) -> DataFrame:
    """Decode → per-channel stats + gradient edge density + phash.
    Batch shape: MB-scale blobs in Arrow batches bounded at 4 MB (one or
    two images, so Spark encodes the next batch while this one is read)
    and 10k records (session.py)."""

    def rows_of(r):
        arr = pixfmt.decode(r.fmt, r.bytes, r.w, r.h)
        f = arr.astype(np.float64)
        gy = np.abs(np.diff(f, axis=1)).mean()
        gx = np.abs(np.diff(f, axis=2)).mean()
        yield (r.image_id, [float(c.mean()) for c in f],
               [float(c.std()) for c in f], float(gx + gy), phash64(arr))

    return map_blobs(images.select("image_id", "bytes", "w", "h", "fmt"),
                     FEATURE_SCHEMA, rows_of)


def resize_images(images: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Area-mean resize (raster.area_mean, the block average phash64
    shrinks with), cast back to each image's dtype."""

    def rows_of(r):
        arr = pixfmt.decode(r.fmt, r.bytes, r.w, r.h)
        res = area_mean(arr, out_h, out_w).astype(arr.dtype)
        payload, fmt = pixfmt.encode(res, r.fmt)
        yield (r.image_id, payload, out_w, out_h, fmt)

    return map_blobs(images.select("image_id", "bytes", "w", "h", "fmt"),
                     IMAGE_SCHEMA, rows_of)


def crop_images(images: DataFrame, bounds, mode: str = "pixel") -> DataFrame:
    """Crop every image to `bounds` — solaris/preproc/image.py:373-409
    (`Crop`) semantics re-expressed as one blob map:

    - bounds = [left, bottom, right, top].
    - mode='pixel': INCLUSIVE pixel window (gdal srcWin width =
      right − left + 1, height = bottom − top + 1, i.e. rows top..bottom
      and cols left..right inclusive), clamped to the image extent.
    - mode='geo': requires a `transform` column (6-element GDAL-order
      affine [x0, dx, 0, y0, 0, dy]); bounds are georeferenced
      [left, bottom, right, top] converted through the affine exactly the
      way gdal.Translate projWin does — offsets floor with a +0.001 px
      epsilon, sizes derived from the extent and rounded to nearest — and
      the output rows carry the window-shifted affine.

    Decode happens executor-side in Arrow batches; shuffles never carry
    pixels (crop is a map — no shuffle at all).

    Contract: images whose clamped window is EMPTY (bounds entirely
    outside the raster, or a degenerate geo window) are DROPPED from the
    output — callers needing to distinguish 'cropped away' from 'missing'
    should anti-join the result against the input ids."""
    if isinstance(mode, bool) or mode not in ("pixel", "p", 0, "geo", "g", 1):
        raise ValueError(f"invalid crop mode: {mode!r}")
    geo = mode in ("geo", "g", 1)
    schema = IMAGE_SCHEMA
    cols = ["image_id", "bytes", "w", "h", "fmt"]
    if geo:
        schema = T.StructType(
            IMAGE_SCHEMA.fields
            + [T.StructField("transform", T.ArrayType(T.DoubleType()), True)])
        cols = cols + ["transform"]
    left, bottom, right, top = (float(v) for v in bounds)

    def rows_of(r):
        arr = pixfmt.decode(r.fmt, r.bytes, r.w, r.h)
        C, H, W = arr.shape
        if geo:
            # gdal.Translate srcWin derivation: floor(+0.001 px) offsets,
            # extent-derived nearest-rounded sizes — NOT four independently
            # rounded corners, which can land one pixel off for
            # edge-misaligned bounds (ADVICE r3)
            gt = [float(v) for v in r.transform]
            x0 = int(np.floor((left - gt[0]) / gt[1] + 0.001))
            y0 = int(np.floor((top - gt[3]) / gt[5] + 0.001))
            x1 = x0 + int((right - left) / gt[1] + 0.5)
            y1 = y0 + int((bottom - top) / gt[5] + 0.5)
        else:
            x0, y0 = int(left), int(top)
            x1, y1 = int(right) + 1, int(bottom) + 1
        x0c, y0c = max(0, x0), max(0, y0)
        x1c, y1c = min(W, x1), min(H, y1)
        if x1c <= x0c or y1c <= y0c:
            return
        win = np.ascontiguousarray(arr[:, y0c:y1c, x0c:x1c])
        payload, fmt = pixfmt.encode(win, r.fmt)
        row = (r.image_id, payload, x1c - x0c, y1c - y0c, fmt)
        if geo:
            row += ([gt[0] + x0c * gt[1], gt[1], gt[2],
                     gt[3] + y0c * gt[5], gt[4], gt[5]],)
        yield row

    return map_blobs(images.select(*cols), schema, rows_of)


AUDIO_FEATURE_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType(), False),
    T.StructField("duration_sec", T.DoubleType(), True),
    T.StructField("rms", T.DoubleType(), True),
    T.StructField("zero_crossings", T.LongType(), True),
])


def audio_features(clips: DataFrame) -> DataFrame:
    """clips(clip_id, bytes, sample_rate) → duration/RMS/zero-crossings.
    Decode is the deterministic int16-PCM fake (real codec import-gated)."""

    def rows_of(r):
        x = decode_audio_fake(r.bytes, r.sample_rate)
        zc = int(((x[:-1] * x[1:]) < 0).sum())
        yield (r.clip_id, len(x) / float(r.sample_rate),
               float(np.sqrt((x ** 2).mean())) if len(x) else 0.0, zc)

    return map_blobs(clips.select("clip_id", "bytes", "sample_rate"),
                     AUDIO_FEATURE_SCHEMA, rows_of)


FRAME_SCHEMA = T.StructType([
    T.StructField("video_id", T.StringType(), False),
    T.StructField("frame_idx", T.IntegerType(), False),
    T.StructField("bytes", T.BinaryType(), True),
    T.StructField("w", T.IntegerType(), True),
    T.StructField("h", T.IntegerType(), True),
])


def sample_frames(videos: DataFrame, sample_every: int = 10) -> DataFrame:
    """videos(video_id, bytes, w, h, n_frames) → one row per sampled frame
    (UDTF-shaped: rows out > rows in; frames explode executor-side, and
    map_blobs cuts the output batches at the session's 4 MB)."""

    def rows_of(r):
        frames = sample_video_frames_fake(r.bytes, r.w, r.h, r.n_frames,
                                          sample_every)
        for k, fr in enumerate(frames):
            yield (r.video_id, k * sample_every, fr, r.w, r.h)

    return map_blobs(videos.select("video_id", "bytes", "w", "h", "n_frames"),
                     FRAME_SCHEMA, rows_of)
