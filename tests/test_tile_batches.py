"""The Arrow blob emitter (blobs.blob_batches and its grouped twin
blobs.group_blob_batches) driven directly, without Spark, over real
operator rows: tiling's tile rows, instance_masks' per-label masks and
band_math's widened pixels.  Output batches stay within the byte bound,
keep every row and its bytes, carry nulls, and an input with no output
rows still yields one batch of the right schema."""

import numpy as np
import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema

from solaris_spark.functions import geom as G
from solaris_spark.functions import pixfmt
from solaris_spark.functions import raster as R
from solaris_spark.operators import blobs, masks, spectral, tiling
from solaris_spark.sources import synth

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


def test_widening_band_math_stays_within_the_bound():
    """u8 → float64 grows 4 images of 1500² (9 MB in) to 72 MB out: the
    map cuts it into batches ≤ 64 MB, pixels as the kernel returned them."""
    px = np.random.default_rng(1).integers(0, 256, (4, 1, 1500, 1500),
                                           dtype=np.uint8)
    batch = pa.RecordBatch.from_pydict({
        "image_id": pa.array([f"s{k}" for k in range(4)]),
        "pixels": pa.array([p.tobytes() for p in px], pa.binary()),
        "h": pa.array([1500] * 4, pa.int32()),
        "w": pa.array([1500] * 4, pa.int32()),
        "nchan": pa.array([1] * 4, pa.int32()),
        "dtype": pa.array(["uint8"] * 4)})
    rows_of = spectral._band_rows(lambda a: a.astype(np.float64))
    k, sizes = 0, []
    for out in blobs.blob_batches(iter([batch]), spectral.SPECTRAL_SCHEMA,
                                  BOUND, rows_of):
        sizes.append(out.get_total_buffer_size())
        for pixels, dtype in zip(out.column("pixels"),
                                 out.column("dtype").to_pylist()):
            assert dtype == "float64"
            assert pixels.as_py() == px[k].astype("<f8").tobytes()
            k += 1
    assert k == 4
    assert sum(sizes) > BOUND and len(sizes) >= 2 and max(sizes) <= BOUND
