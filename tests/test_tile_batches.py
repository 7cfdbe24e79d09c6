"""The Arrow tile emitter (blobs.blob_batches over tiling's tile rows)
driven directly, without Spark: output batches stay within the byte bound
on a mega-image, keep every tile and its bytes, and an input with no
surviving tiles still yields one batch of the right schema."""

import numpy as np
import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema

from solaris_spark.functions import pixfmt
from solaris_spark.functions import raster as R
from solaris_spark.operators import blobs, tiling

BOUND = 64 * 1024 * 1024
TRANSFORM = (0.5, 0.0, 733600.0, 0.0, -0.5, 3726000.0)


def _image_batch(iid: str, px: np.ndarray, nodata=None) -> pa.RecordBatch:
    """One raster_tiles input row (images ⋈ geo) as an Arrow batch whose
    blob is ``px``'s own memory."""
    blob = pa.BinaryArray.from_buffers(pa.binary(), 1, [
        None, pa.py_buffer(np.array([0, px.nbytes], dtype=np.int32)),
        pa.py_buffer(px)])
    a, b, c, d, e, f = TRANSFORM
    cols = {"image_id": pa.array([iid]), "bytes": blob,
            "w": pa.array([px.shape[2]], pa.int32()),
            "h": pa.array([px.shape[1]], pa.int32()),
            "fmt": pa.array([pixfmt.raw_fmt(px)])}
    cols.update({k: pa.array([v], pa.float64())
                 for k, v in zip("abcdef", (a, b, c, d, e, f))})
    cols["nodata"] = pa.array([nodata], pa.float64())
    return pa.RecordBatch.from_pydict(cols)


def _tile_batches(batch, tile, nodata_threshold=None):
    rows_of = tiling._tile_rows(tiling.raster_cells(tile), tile,
                                nodata_threshold, None)
    return blobs.blob_batches(iter([batch]), tiling.TILE_SCHEMA, BOUND,
                               rows_of)


def test_mega_image_batches_stay_within_the_bound():
    """6000×6000 raw-u8-c3 (108 MB of pixels) in 500 px tiles: at least two
    batches, each ≤ 64 MB, all 144 tiles, bytes as cut."""
    side, tile = 6000, (500, 500)
    px = np.random.default_rng(0).integers(0, 256, (3, side, side),
                                           dtype=np.uint8)
    batch = _image_batch("mega", px)
    n_tiles = 0
    sizes = []
    for out in _tile_batches(batch, tile):
        sizes.append(out.get_total_buffer_size())
        assert out.schema == to_arrow_schema(tiling.TILE_SCHEMA)
        rows = out.to_pydict()
        for k in (0, len(rows["pixels"]) - 1):
            bounds = (rows["xmin"][k], rows["ymin"][k], rows["xmax"][k],
                      rows["ymax"][k])
            want, _ = R.cut_window(px, TRANSFORM, bounds, tile)
            assert rows["pixels"][k] == want.tobytes()
            assert rows["fmt"][k] == "raw-u8-c3"
        n_tiles += out.num_rows
    assert n_tiles == (side // tile[0]) ** 2
    assert len(sizes) >= 2 and max(sizes) <= BOUND, sizes


def test_small_bound_cuts_between_tiles_and_keeps_order():
    px = (np.arange(2 * 40 * 50) % 7).astype(np.uint16).reshape(2, 40, 50)
    rows_of = tiling._tile_rows(tiling.raster_cells((10, 10)), (10, 10),
                                None, None)
    one = list(blobs.blob_batches(iter([_image_batch("s", px)]),
                                   tiling.TILE_SCHEMA, BOUND, rows_of))
    many = list(blobs.blob_batches(iter([_image_batch("s", px)]),
                                    tiling.TILE_SCHEMA, 2000, rows_of))
    assert len(one) == 1 and len(many) > 1
    assert all(b.get_total_buffer_size() <= 2000 for b in many)
    assert pa.Table.from_batches(many).equals(pa.Table.from_batches(one))


def test_all_tiles_dropped_yields_one_empty_batch():
    px = np.zeros((3, 64, 64), dtype=np.uint8)
    out = list(_tile_batches(_image_batch("blank", px, nodata=0.0), (32, 32),
                             nodata_threshold=0.5))
    assert len(out) == 1
    assert out[0].num_rows == 0
    assert out[0].schema == to_arrow_schema(tiling.TILE_SCHEMA)


def test_arrow_rows_read_sliced_binary_columns_in_place():
    batch = pa.RecordBatch.from_pydict({
        "k": pa.array(["a", "b", "c"]),
        "blob": pa.array([b"xy", None, b"0123"], pa.binary())}).slice(1)
    rows = blobs.arrow_rows(batch)
    assert [r.k for r in rows] == ["b", "c"]
    assert rows[0].blob is None
    assert isinstance(rows[1].blob, memoryview)
    assert bytes(rows[1].blob) == b"0123"
