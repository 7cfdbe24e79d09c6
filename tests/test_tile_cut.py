"""The batched tile cut against the tile-at-a-time oracle, without Spark.

``raster.cut_windows`` / ``raster.nodata_fractions`` and the per-column
``tiling._tile_rows`` chunks must give the rows of ``oracles.tile_rows``
(one ``cut_window`` and one float ``nodata_fraction`` per grid cell): the
Arrow tables are compared whole, tile ids, bounds, pixels and nodata
fractions included, for the raster, windowed and warped tilers."""

import numpy as np
import pyarrow as pa
import pytest

from solaris_spark.functions import geom as G
from solaris_spark.functions import pixfmt
from solaris_spark.functions import raster as R
from solaris_spark.functions import tiffio
from solaris_spark.operators import blobs, tiling
from solaris_spark.sources import synth
from tests import oracles as O

BOUND = 64 * 1024 * 1024
TRANSFORM = (0.5, 0.0, 733600.0, 0.0, -0.5, 3726000.0)


def _image_batch(px: np.ndarray, transform=TRANSFORM, nodata=None,
                 epsg=None, iid="img") -> pa.RecordBatch:
    """One images ⋈ geo row whose blob is ``px`` as raw little-endian."""
    cols = {"image_id": pa.array([iid]),
            "bytes": pa.array([px.astype(px.dtype.newbyteorder("<"))
                               .tobytes()], pa.binary()),
            "w": pa.array([px.shape[2]], pa.int32()),
            "h": pa.array([px.shape[1]], pa.int32()),
            "fmt": pa.array([pixfmt.raw_fmt(px)])}
    cols.update({k: pa.array([v], pa.float64())
                 for k, v in zip("abcdef", transform)})
    cols["epsg"] = pa.array([epsg], pa.int32())
    cols["nodata"] = pa.array([nodata], pa.float64())
    return pa.RecordBatch.from_pydict(cols)


def _table(batches, rows_of) -> pa.Table:
    return pa.Table.from_batches(list(blobs.blob_batches(
        iter(batches), tiling.TILE_SCHEMA, BOUND, rows_of)))


def _assert_parity(batches, cells, oracle_cells, tile, thr=None, res=None,
                   min_rows=1):
    got = _table(batches, tiling._tile_rows(cells, tile, thr, res))
    want = _table(batches, O.tile_rows(oracle_cells, tile, thr, res))
    assert want.num_rows >= min_rows
    assert got.column("tile_id").to_pylist() == \
        want.column("tile_id").to_pylist()
    assert got.equals(want)
    return got


def _blocky(shape, dtype, nodata, seed=0):
    """Seeded pixels with nodata in whole blocks (every band), in one band
    only, and scattered, so tiles are all, partly and not nodata."""
    rng = np.random.default_rng(seed)
    px = rng.integers(1, 200, size=shape).astype(dtype)
    if nodata is not None:
        v = np.asarray(nodata).astype(dtype)
        _, h, w = shape
        px[:, : h // 3, : w // 2] = v
        px[0, h // 2:, w // 2:] = v
        px[:, rng.random((h, w)) < 0.2] = v
    return px


# --- the nodata rule ----------------------------------------------------

NODATA_CASES = [
    ("uint8", 0.0), ("uint16", -9999.0), ("int16", -9999.0),
    ("float32", float("nan")), ("float32", 0.1), ("uint8", None),
    ("uint8", 100.5), ("uint8", 300.0), ("int32", 7.0), ("float64", 3.0),
    ("int64", 2.0 ** 53),
]


@pytest.mark.parametrize("dtype,nodata", NODATA_CASES)
def test_nodata_fractions_equal_the_float_comparison(dtype, nodata):
    tiles = _blocky((24, 16, 16), dtype, nodata).reshape(12, 2, 16, 16)
    tiles[3] = np.asarray(1 if nodata is None else nodata).astype(dtype)
    if dtype == "int64":
        # float64 cannot tell 2**53 + 1 from 2**53: NumPy's comparison
        # calls it nodata, and so must the kernel
        tiles[5] = 2 ** 53 + 1
    got = R.nodata_fractions(tiles, nodata)
    want = [O.nodata_fraction(t, nodata) for t in tiles]
    assert got.dtype == np.float64 and got.tolist() == want
    assert R.nodata_fraction(tiles[3], nodata) == want[3]
    assert R.nodata_fractions(tiles[:0], nodata).shape == (0,)


@pytest.mark.parametrize("dtype,nodata", [
    ("uint8", 0.0), ("uint16", -9999.0), ("int16", -9999.0),
    ("float32", float("nan")), ("float32", 0.1), ("uint8", None)])
@pytest.mark.parametrize("thr", [None, 0.5])
def test_tile_rows_nodata_rule_and_threshold(dtype, nodata, thr):
    """Boundless edges filled with the nodata value cast to the pixel dtype,
    fractions and threshold drops as the per-tile loop has them."""
    px = _blocky((2, 70, 50), dtype, nodata)
    got = _assert_parity([_image_batch(px, nodata=nodata)],
                         tiling.raster_cells((16, 16)),
                         O.raster_cells((16, 16)), (16, 16), thr=thr)
    if thr is not None and dtype in ("uint8", "int16") and nodata is not None:
        assert got.num_rows < 20    # some of the 4 x 5 tiles were dropped


# --- the raster tiler ---------------------------------------------------


def test_1000px_image_in_90px_tiles():
    row = synth.synth_image_row(7, 0, 1000, 1000)
    px = np.frombuffer(row["bytes"], np.uint8).reshape(3, 1000, 1000)
    for nodata, thr in ((None, None), (0.0, 0.3)):
        _assert_parity([_image_batch(px, nodata=nodata)],
                       tiling.raster_cells((90, 90)),
                       O.raster_cells((90, 90)), (90, 90), thr=thr,
                       min_rows=144 if thr is None else 1)


@pytest.mark.parametrize("fmt_shape", [("uint16", 1), ("float32", 2)])
def test_wide_and_float_images(fmt_shape):
    dtype, nchan = fmt_shape
    px = _blocky((nchan, 131, 97), dtype, 0.0, seed=3)
    if dtype == "float32":
        px = px + np.float32(0.25)
        px[:, :20, :20] = 0.0
    for thr in (None, 0.9):
        _assert_parity([_image_batch(px, nodata=0.0)],
                       tiling.raster_cells((32, 24)),
                       O.raster_cells((32, 24)), (32, 24), thr=thr)


def test_aoi_grid():
    aoi = ("POLYGON ((733610 3725990, 733640 3725985, 733650 3725950, "
           "733615 3725960, 733610 3725990))")
    rings = G.polygon_rings(aoi)
    px = _blocky((3, 120, 110), "uint8", None, seed=5)
    got = _assert_parity([_image_batch(px, nodata=0.0)],
                         tiling.raster_cells((16, 16), rings),
                         O.raster_cells((16, 16), rings), (16, 16),
                         thr=0.95)
    assert got.num_rows < (120 // 16 + 1) * (110 // 16 + 1)


def test_rotated_affine():
    px = _blocky((3, 64, 80), "uint8", 0.0, seed=6)
    t = (0.5, 0.1, 733600.0, 0.05, -0.5, 3726000.0)
    _assert_parity([_image_batch(px, transform=t, nodata=0.0)],
                   tiling.raster_cells((20, 30)), O.raster_cells((20, 30)),
                   (20, 30))


def test_several_images_in_one_batch():
    imgs = [_image_batch(_blocky((1, 40 + 9 * k, 33), "uint16", 0.0, k),
                         nodata=0.0, iid=f"i{k}") for k in range(3)]
    batch = pa.Table.from_batches(imgs).combine_chunks().to_batches()[0]
    _assert_parity([batch], tiling.raster_cells((16, 16)),
                   O.raster_cells((16, 16)), (16, 16), min_rows=12)


# --- cut_windows on a grid overhanging all four sides -----------------------


def _overhanging_grid(h, w, tile, a=0.5, e=-0.5):
    """split_geom cells over the image bounds grown by 1.3 tiles on every
    side, so windows leave the image left, right, above and below, and
    some miss it entirely."""
    c, f = TRANSFORM[2], TRANSFORM[5]
    gx, gy = 1.3 * tile[1] * a, 1.3 * tile[0] * -e
    return G.split_geom_bounds((c - gx, f + h * e - gy, c + w * a + gx,
                                f + gy), tile, resolution=(a, -e))


@pytest.mark.parametrize("dtype,fill", [("uint8", 0), ("uint16", -9999.0),
                                        ("float32", float("nan"))])
@pytest.mark.parametrize("tile", [(16, 12), (64, 64)])
def test_cut_windows_overhanging_every_side(dtype, fill, tile):
    """(64, 64) windows are larger than the 37 x 53 image."""
    px = _blocky((2, 37, 53), dtype, None, seed=8)
    tb = _overhanging_grid(37, 53, tile)
    row0, col0 = R.window_origins(TRANSFORM, tb)
    assert row0.min() < 0 and col0.min() < 0
    assert (row0 + tile[0]).max() > 37 and (col0 + tile[1]).max() > 53
    got = R.cut_windows(px, row0, col0, tile, fill)
    assert got.shape == (len(tb), 2) + tile and got.dtype == px.dtype
    for k, t in enumerate(tb):
        want, tt = O.cut_window(px, TRANSFORM, tuple(t), tile, fill)
        assert got[k].tobytes() == want.tobytes(), k
        assert R.cut_window(px, TRANSFORM, tuple(t), tile, fill)[1] == tt


def test_tile_rows_over_a_grid_overhanging_every_side():
    tile = (16, 12)

    def tb_of(row):
        return _overhanging_grid(row.h, row.w, tile)

    def cells(row, nod):
        arr = pixfmt.decode(row.fmt, row.bytes, row.w, row.h)
        for cols, txs, tys in tiling._grid_columns(tb_of(row)):
            ids = [f"t{x}_{y}" for x, y in zip(txs, tys)]
            row0, col0 = R.window_origins(TRANSFORM, cols)
            yield ids, txs, tys, cols, R.cut_windows(arr, row0, col0, tile,
                                                     nod)

    def oracle_cells(row, nod):
        arr = pixfmt.decode(row.fmt, row.bytes, row.w, row.h)
        for t, tx, ty in O._grid_cells(tb_of(row)):
            yield (f"t{tx}_{ty}", tx, ty, t,
                   O.cut_window(arr, TRANSFORM, tuple(t), tile, nod)[0])

    px = _blocky((3, 37, 53), "uint8", 0.0, seed=9)
    got = _assert_parity([_image_batch(px, nodata=0.0)], cells,
                         oracle_cells, tile, thr=1.0)
    # windows wholly outside the image are all nodata and dropped
    assert 0 < got.num_rows < len(_overhanging_grid(37, 53, tile))


# --- the windowed and warped tilers --------------------------------------


def test_windowed_tiler(tmp_path):
    px = _blocky((3, 45, 38), "uint16", 0.0, seed=11)
    path = str(tmp_path / "img.tif")
    tiffio.write_tiff(path, px)
    a, b, c, d, e, f = TRANSFORM
    tile = (16, 16)
    tb = tiling._grid_for_image(a, e, c, f, 38, 45, tile)
    jobs = [{"tile_id": tiling.tile_name("img", t[0], t[3]),
             "image_id": "img", "tx": tx, "ty": ty,
             "xmin": t[0], "ymin": t[1], "xmax": t[2], "ymax": t[3],
             "path": path, "b": b, "d": d, "c": c, "f": f, "a": a, "e": e,
             "nodata": 0.0}
            for t, tx, ty in O._grid_cells(tb)]
    batch = pa.RecordBatch.from_pylist(jobs)
    for thr in (None, 0.5):
        _assert_parity([batch], tiling.windowed_cells(tile),
                       O.windowed_cells(tile), tile, thr=thr,
                       min_rows=9 if thr is None else 1)


@pytest.mark.parametrize("resampling", ["nearest", "bilinear"])
def test_warped_tiler(resampling):
    px = _blocky((2, 50, 60), "uint8", 0.0, seed=12)
    tile, dest_res = (16, 16), (0.6, 0.6)
    _assert_parity([_image_batch(px, nodata=0.0, epsg=32611)],
                   tiling.warped_cells(tile, 3857, dest_res, resampling),
                   O.warped_cells(tile, 3857, dest_res, resampling), tile,
                   thr=0.99, res=(dest_res[0], -dest_res[1]))
