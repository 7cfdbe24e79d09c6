"""The Arrow row emitter (blobs.blob_batches and its grouped twin
blobs.group_blob_batches) driven directly, without Spark, over real
operator rows: tiling's tile rows, instance_masks' per-label masks and
pixels widened from u8 to float64, plus rows of a schema with no binary
column.  Output batches stay within the byte bound, keep every row and its
bytes, carry nulls, and an input with no output rows still yields one
batch of the right schema.  One map_blobs query through Spark passes a
NULL input blob through to a NULL output blob."""

import tracemalloc

import numpy as np
import pyarrow as pa
import pytest
import pyspark.sql.types as T
from pyspark.sql.pandas.types import to_arrow_schema

from solaris_spark.functions import geom as G
from solaris_spark.functions import pixfmt
from solaris_spark.functions import raster as R
from solaris_spark.operators import blobs, masks, tiling
from solaris_spark.sources import synth
from tests import oracles as O

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


def _tile_batches(batch, tile, nodata_threshold=None, bound=BOUND):
    rows_of = tiling._tile_rows(tiling.raster_cells(tile), tile,
                                nodata_threshold, None)
    return blobs.blob_batches(iter([batch]), tiling.TILE_SCHEMA, bound,
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
            want, _ = O.cut_window(px, TRANSFORM, bounds, tile)
            assert rows["pixels"][k] == want.tobytes()
            assert rows["fmt"][k] == "raw-u8-c3"
        n_tiles += out.num_rows
    assert n_tiles == (side // tile[0]) ** 2
    assert len(sizes) >= 2 and max(sizes) <= BOUND, sizes


@pytest.mark.parametrize("tile_px", [500, 480])
def test_mega_image_memory_is_one_tile_column_plus_one_batch(tile_px):
    """Python memory while tiling the 6000×6000 image (NumPy reports its
    allocations to tracemalloc) stays within one output batch's buffer,
    one grid column of tiles (12 × 750 KB at 500 px), and the nodata
    comparison's two bands of booleans per tile of that column: tiles are
    cut one column at a time and copied into the batch as they are
    queued, so neither the image's tiles nor a second batch are ever
    held.  A 480 px grid overhangs the image, so every column is cut from
    a nodata-padded box as large as the column, held while the column is
    gathered; the 500 px grid divides the image and needs none."""
    side, tile, bound = 6000, (tile_px, tile_px), 8 * 1024 * 1024
    px = np.random.default_rng(0).integers(0, 256, (3, side, side),
                                           dtype=np.uint8)
    batch = _image_batch("mega", px)
    n = -(-side // tile_px)
    column = n * px.itemsize * 3 * tile_px * tile_px
    box = column if side % tile_px else 0
    # the box is freed before the nodata comparison runs
    limit = bound + column + max(box, 2 * column // 3) + 2 * 1024 * 1024
    tracemalloc.start()
    try:
        base = tracemalloc.get_traced_memory()[0]
        n_tiles = 0
        for out in _tile_batches(batch, tile, bound=bound):
            n_tiles += out.num_rows
            del out
        peak = tracemalloc.get_traced_memory()[1] - base
    finally:
        tracemalloc.stop()
    assert n_tiles == n * n
    assert peak <= limit, (peak, limit)


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


def test_nulls_in_string_and_blob_columns():
    """A None string and a None blob size as 0 bytes; the blob column gets
    a validity bitmap (nulls at rows 1 and 9 cross a bitmap byte)."""
    want = [(f"i{k}",
             None if k in (1, 9) else np.full((1, 2, 3), k, np.uint8),
             3, 2, "raw-u8-c1", None if k % 3 else f"cap {k}", k)
            for k in range(11)]
    ids = pa.RecordBatch.from_pydict({"k": pa.array(range(11), pa.int64())})
    out = list(blobs.blob_batches(iter([ids]), synth.IMAGES_SCHEMA, BOUND,
                                  lambda r: [want[r.k]]))
    assert len(out) == 1
    col = out[0].column("bytes")
    assert col.null_count == 2
    assert col.is_valid().to_pylist() == [k not in (1, 9) for k in range(11)]
    rows = out[0].to_pydict()
    assert rows["bytes"] == [None if b is None else b.tobytes()
                             for b in (r[1] for r in want)]
    assert rows["caption"] == [r[5] for r in want]
    assert rows["image_id"] == [r[0] for r in want]


def _label_group(iid: str, wkts: list[str], side: int) -> list[pa.RecordBatch]:
    """One instance_masks group (label rows ⋈ images_geo) as two Arrow
    batches, the way Spark may split a group."""
    n = len(wkts)
    cols = {"image_id": pa.array([iid] * n),
            "label_id": pa.array(range(n), pa.int32()),
            "wkt": pa.array(wkts),
            "w": pa.array([side] * n, pa.int32()),
            "h": pa.array([side] * n, pa.int32())}
    cols.update({k: pa.array([v] * n, pa.float64())
                 for k, v in zip("abcdef", TRANSFORM)})
    cols["nodata"] = pa.array([None] * n, pa.float64())
    batch = pa.RecordBatch.from_pydict(cols)
    return [batch.slice(0, n // 2), batch.slice(n // 2)]


def test_grouped_instance_masks_stay_within_the_bound():
    """8 labels on a 3000² image (72 MB of masks) from one group: at least
    two batches, each ≤ 64 MB, every mask byte-equal to one
    rasterize_rings call for its label."""
    side = 3000
    wkts = synth.synth_labels_for(7, "big", side, side, 8, 8)
    rows_of = masks._instance_rows(False, 255, False)
    n, sizes = 0, []
    for out in blobs.group_blob_batches(iter(_label_group("big", wkts, side)),
                                        masks.INSTANCE_SCHEMA, BOUND, rows_of):
        sizes.append(out.get_total_buffer_size())
        assert out.schema == to_arrow_schema(masks.INSTANCE_SCHEMA)
        for lid, mask in zip(out.column("label_id").to_pylist(),
                             out.column("mask")):
            want = R.rasterize_rings(G.polygon_rings(wkts[lid]), (side, side),
                                     value=255)
            assert lid == n and mask.as_py() == want.tobytes()
            n += 1
    assert n == len(wkts)
    assert len(sizes) >= 2 and max(sizes) <= BOUND, sizes


def test_empty_group_yields_one_empty_batch():
    rows_of = masks._instance_rows(False, 255, False)
    empty = _label_group("none", [], 10)[0]
    for batches in ([], [empty]):
        out = list(blobs.group_blob_batches(iter(batches),
                                            masks.INSTANCE_SCHEMA, BOUND,
                                            rows_of))
        assert len(out) == 1
        assert out[0].num_rows == 0
        assert out[0].schema == to_arrow_schema(masks.INSTANCE_SCHEMA)


WIDE_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("pixels", T.BinaryType(), False),
])


def test_widening_map_stays_within_the_bound():
    """u8 → float64 grows 4 images of 1500² (9 MB in) to 72 MB out: the
    map cuts it into batches ≤ 64 MB, pixels as rows_of returned them."""
    px = np.random.default_rng(1).integers(0, 256, (4, 1500, 1500),
                                           dtype=np.uint8)
    batch = pa.RecordBatch.from_pydict({
        "image_id": pa.array([f"s{k}" for k in range(4)]),
        "pixels": pa.array([p.tobytes() for p in px], pa.binary())})

    def rows_of(r):
        arr = np.frombuffer(r.pixels, dtype=np.uint8)
        yield (r.image_id, arr.astype(np.float64))

    k, sizes = 0, []
    for out in blobs.blob_batches(iter([batch]), WIDE_SCHEMA, BOUND,
                                  rows_of):
        sizes.append(out.get_total_buffer_size())
        for pixels in out.column("pixels"):
            assert pixels.as_py() == px[k].astype("<f8").tobytes()
            k += 1
    assert k == 4
    assert sum(sizes) > BOUND and len(sizes) >= 2 and max(sizes) <= BOUND


def test_map_blobs_keeps_null_blob_row(spark):
    """Through Spark, a row with NULL bytes leaves map_blobs with bytes
    NULL (and the NULL phash its rows_of gives it); a decodable row keeps
    its bytes and gets its phash."""
    px = np.arange(3 * 6 * 8, dtype=np.uint8).reshape(3, 6, 8)
    df = spark.createDataFrame(
        [("ok", bytearray(px.tobytes()), 8, 6, "raw-u8-c3", None, None),
         ("null", None, 8, 6, "raw-u8-c3", "no bytes", None)],
        synth.IMAGES_SCHEMA)

    def rows_of(r):
        ph = None if r.bytes is None else R.phash64(
            pixfmt.decode(r.fmt, r.bytes, r.w, r.h))
        yield (r.image_id, r.bytes, r.w, r.h, r.fmt, r.caption, ph)

    rows = {r["image_id"]: r for r in blobs.map_blobs(
        df, synth.IMAGES_SCHEMA, rows_of).collect()}
    assert set(rows) == {"ok", "null"}
    assert rows["null"]["bytes"] is None
    assert rows["null"]["phash"] is None
    assert rows["null"]["caption"] == "no bytes"
    assert bytes(rows["ok"]["bytes"]) == px.tobytes()
    assert rows["ok"]["phash"] == R.phash64(px)


# A schema with no binary column: a string, a nullable long and a
# nullable list<double>.
ROW_SCHEMA = T.StructType([
    T.StructField("name", T.StringType(), False),
    T.StructField("n", T.LongType(), True),
    T.StructField("xs", T.ArrayType(T.DoubleType()), True),
])


def _rows_for(k: int) -> list[tuple]:
    """Input row k's output rows (k % 4 of them), with NULL longs and
    lists among them."""
    return [(f"row{k}-{j}", None if (k + j) % 3 == 0 else 10 * k + j,
             None if (k + j) % 5 == 0 else [k + 0.5] * j)
            for j in range(k % 4)]


def _ids(lo: int, hi: int) -> pa.RecordBatch:
    return pa.RecordBatch.from_pydict({"k": pa.array(range(lo, hi),
                                                     pa.int64())})


def _as_tuples(batches) -> list[tuple]:
    for b in batches:
        assert b.schema == to_arrow_schema(ROW_SCHEMA)
    return [tuple(r.values()) for b in batches for r in b.to_pylist()]


def test_rows_without_a_blob_column_round_trip_in_order():
    want = [row for k in range(40) for row in _rows_for(k)]
    assert any(r[1] is None for r in want) and any(r[2] is None for r in want)
    out = list(blobs.blob_batches(iter([_ids(0, 25), _ids(25, 40)]),
                                  ROW_SCHEMA, BOUND,
                                  lambda r: _rows_for(r.k)))
    assert len(out) == 2            # cut at every input batch end only
    assert _as_tuples(out) == want
    assert out[0].column("n").null_count > 0


def test_small_bound_cuts_rows_without_a_blob_column_between_rows():
    want = [row for k in range(40) for row in _rows_for(k)]
    many = list(blobs.blob_batches(iter([_ids(0, 40)]), ROW_SCHEMA, 200,
                                   lambda r: _rows_for(r.k)))
    assert len(many) > 5
    assert max(b.num_rows for b in many) < len(want)
    assert _as_tuples(many) == want


def test_grouped_rows_without_a_blob_column():
    """A group split over two input batches: rows_of sees all its rows
    once; a small bound cuts the output between rows."""
    want = [row for k in range(30) for row in _rows_for(k)]

    def rows_of(rows):
        assert [r.k for r in rows] == list(range(30))
        return [row for r in rows for row in _rows_for(r.k)]

    for bound, n_batches in ((BOUND, 1), (200, None)):
        out = list(blobs.group_blob_batches(
            iter([_ids(0, 12), _ids(12, 30)]), ROW_SCHEMA, bound, rows_of))
        assert _as_tuples(out) == want
        assert len(out) == 1 if n_batches == 1 else len(out) > 5


def test_no_input_rows_without_a_blob_column_yield_one_empty_batch():
    for out in (
            list(blobs.blob_batches(iter([_ids(0, 0)]), ROW_SCHEMA, BOUND,
                                    lambda r: _rows_for(r.k))),
            list(blobs.group_blob_batches(iter([]), ROW_SCHEMA, BOUND,
                                          lambda rows: []))):
        assert len(out) == 1 and out[0].num_rows == 0
        assert out[0].schema == to_arrow_schema(ROW_SCHEMA)
