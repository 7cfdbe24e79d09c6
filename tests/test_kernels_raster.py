"""Raster kernel parity vs the reference's golden masks
(/root/reference/tests/test_vector/test_mask.py) and tile fixtures.
All goldens are uncompressed strip TIFFs read with the pure-NumPy reader.
"""

import csv
import os

import numpy as np
import pytest

from solaris_spark.functions import geom as G, raster as R
from solaris_spark.functions.tiffio import read_tiff

DATA = "/root/reference/solaris/data"


@pytest.fixture(scope="module")
def sample_shapes():
    rows = list(csv.DictReader(open(os.path.join(DATA, "sample.csv"))))
    return [(G.polygon_rings(r["PolygonWKT_Pix"]), 255) for r in rows]


@pytest.fixture(scope="module")
def footprint(sample_shapes):
    return R.rasterize_shapes(sample_shapes, (900, 900))


def golden(name):
    return read_tiff(os.path.join(DATA, name)).array


class TestFootprint:
    @pytest.mark.needs_reference("sample.csv")
    def test_fp_mask_exact(self, footprint):
        assert np.array_equal(footprint, golden("sample_fp_mask.tif")[0])

    @pytest.mark.needs_reference("sample.csv")
    def test_fp_df2px(self, footprint):
        assert np.array_equal(footprint, golden("sample_fp_from_df2px.tif")[0])


class TestBoundary:
    @pytest.mark.needs_reference("sample.csv")
    def test_inner_3(self, footprint):
        m = ((R.erosion_square(footprint, 3) ^ footprint) > 0).astype(np.uint8) * 255
        assert np.array_equal(m, golden("sample_b_mask_inner.tif")[0])

    @pytest.mark.needs_reference("sample.csv")
    def test_outer_3(self, footprint):
        m = ((R.dilation_square(footprint, 3) ^ footprint) > 0).astype(np.uint8) * 255
        assert np.array_equal(m, golden("sample_b_mask_outer.tif")[0])

    @pytest.mark.needs_reference("sample.csv")
    def test_outer_10(self, footprint):
        m = ((R.dilation_square(footprint, 10) ^ footprint) > 0).astype(np.uint8) * 255
        assert np.array_equal(m, golden("sample_b_mask_outer_10.tif")[0])


def contact_mask(shapes, footprint, spacing):
    cnt = np.zeros((900, 900), dtype=np.int32)
    for rings, _ in shapes:
        cnt += R.rasterize_geos_buffer(rings, spacing / 2.0, (900, 900)).astype(np.int32)
    return ((cnt >= 2) & (footprint == 0)).astype(np.uint8) * 255


class TestContact:
    @pytest.mark.needs_reference("sample.csv")
    def test_contact_10(self, sample_shapes, footprint):
        assert np.array_equal(contact_mask(sample_shapes, footprint, 10.0),
                              golden("sample_c_mask.tif")[0])

    @pytest.mark.needs_reference("sample.csv")
    def test_contact_15_fbc(self, sample_shapes, footprint):
        fbc = golden("sample_fbc_from_df2px.tif")
        assert np.array_equal(footprint, fbc[0])
        b5 = ((R.dilation_square(footprint, 5) ^ footprint) > 0).astype(np.uint8) * 255
        assert np.array_equal(b5, fbc[1])
        assert np.array_equal(contact_mask(sample_shapes, footprint, 15.0), fbc[2])


class TestTiffIO:
    @pytest.mark.needs_reference("sample_geotiff.tif")
    def test_geotiff_read(self):
        im = read_tiff(os.path.join(DATA, "sample_geotiff.tif"))
        assert im.array.shape == (1, 900, 900)
        assert im.array.dtype == np.uint16
        assert im.transform == (0.5, 0.0, 733601.0, 0.0, -0.5, 3725139.0)
        assert im.epsg == 32616

    @pytest.mark.needs_reference("sample_geotiff.tif")
    def test_tile_window_parity(self):
        """Each expected tile equals the matching window of the source."""
        im = read_tiff(os.path.join(DATA, "sample_geotiff.tif"))
        exp_dir = os.path.join(DATA, "rastertile_test_expected")
        for fname in sorted(os.listdir(exp_dir))[:10]:
            tile = read_tiff(os.path.join(exp_dir, fname))
            xmin = float(fname.split("_")[2])
            ymax = float(fname.split("_")[3].split(".")[0])
            cut, tt = R.cut_window(im.array, im.transform,
                                   (xmin, ymax - 45.0, xmin + 45.0, ymax),
                                   (90, 90))
            assert np.array_equal(cut, tile.array), fname
            assert tt[2] == tile.transform[2] and tt[5] == tile.transform[5]


class TestPsnrPhash:
    def test_psnr_identical_inf(self):
        a = np.arange(100, dtype=np.uint8).reshape(10, 10)
        assert R.psnr(a, a) == float("inf")

    def test_psnr_known(self):
        a = np.zeros((10, 10), dtype=np.uint8)
        b = a.copy()
        b[0, 0] = 255
        mse = 255.0 ** 2 / 100
        assert abs(R.psnr(a, b) - 10 * np.log10(255 ** 2 / mse)) < 1e-9

    def test_phash_deterministic_and_discriminative(self):
        rng = np.random.default_rng(42)
        a = rng.integers(0, 255, size=(64, 64)).astype(np.uint8)
        b = rng.integers(0, 255, size=(64, 64)).astype(np.uint8)
        ha1, ha2, hb = R.phash64(a), R.phash64(a), R.phash64(b)
        assert ha1 == ha2
        assert R.hamming64(ha1, hb) > 10
        # small noise keeps hash close
        noisy = np.clip(a.astype(int) + rng.integers(-5, 5, a.shape), 0, 255).astype(np.uint8)
        assert R.hamming64(ha1, R.phash64(noisy)) <= 10


class TestWarpBilinear:
    def test_linear_field_preserved(self):
        """Bilinear warp reproduces a linear intensity field to ~1e-12
        through the 32616→4326 inverse mapping."""
        from solaris_spark.functions import geom as G
        src_t = (10.0, 0.0, 730000.0, 0.0, -10.0, 3726000.0)
        H, W = 200, 200
        cols, rows = np.meshgrid(np.arange(W) + 0.5, np.arange(H) + 0.5)
        X = src_t[0] * cols + src_t[2]
        Y = src_t[4] * rows + src_t[5]
        src = (0.001 * (X - 730000.0) + 0.002 * (Y - 3724000.0))[None]
        lon0, lat0 = G.utm_to_wgs84(np.array([730400.0]),
                                    np.array([3725600.0]), 32616)
        dst_t = (2e-5, 0.0, float(lon0[0]), 0.0, -2e-5, float(lat0[0]))
        out = R.warp_bilinear(src, src_t, 32616, dst_t, 4326, (40, 40),
                              nodata=-1)
        oc, orr = np.meshgrid(np.arange(40) + 0.5, np.arange(40) + 0.5)
        E, N = G.wgs84_to_utm((dst_t[0] * oc + dst_t[2]).ravel(),
                              (dst_t[4] * orr + dst_t[5]).ravel(), 32616)
        expect = 0.001 * (E - 730000.0) + 0.002 * (N - 3724000.0)
        assert np.abs(out[0].ravel() - expect).max() < 1e-9
        assert (out[0] != -1).all()

    def test_outside_gets_nodata(self):
        src = np.ones((1, 10, 10))
        src_t = (1.0, 0.0, 0.0, 0.0, -1.0, 10.0)
        dst_t = (1.0, 0.0, 100.0, 0.0, -1.0, 10.0)  # disjoint extent
        out = R.warp_bilinear(src, src_t, 32616, dst_t, 32616, (5, 5),
                              nodata=-9)
        assert (out == -9).all()


class TestWarpedTilingOperator:
    @pytest.mark.needs_reference("sample_geotiff.tif")
    def test_utm_image_to_wgs84_tiles(self, spark):
        """raster_tiles_warped: UTM fixture → 4326 grid tiles; values in the
        interior match direct bilinear sampling (spot check via mean)."""
        from solaris_spark.operators import tiling
        from solaris_spark.sources import synth
        images = synth.fixture_image_df(spark)
        geo = synth.image_geo_table(spark, images)
        ig = tiling.with_geo(images, geo)
        tiles = tiling.raster_tiles_warped(
            ig, (64, 64), dest_epsg=4326,
            dest_res=(6e-5, 6e-5), nodata_threshold=0.99).collect()
        assert len(tiles) >= 4
        t0 = tiles[0]
        arr = np.frombuffer(t0["pixels"], dtype=np.uint16).reshape(
            t0["nchan"], 64, 64)
        assert arr.max() > 0


def _naive_cubic(src, src_t, src_epsg, dst_t, dst_epsg, out_shape, nodata):
    """Per-pixel double-loop Keys bicubic (a=-0.5) — independent reference
    implementation for parity checks against the vectorized warp."""
    from solaris_spark.functions import geom as G

    def K(t, a=-0.5):
        u = abs(t)
        if u <= 1:
            return (a + 2) * u**3 - (a + 3) * u**2 + 1
        if u < 2:
            return a * (u**3 - 5 * u**2 + 8 * u - 4)
        return 0.0

    C, H, W = src.shape
    oh, ow = out_shape
    ia, ib, ic, id_, ie, if_ = G.affine_invert(src_t)
    out = np.full((C, oh, ow), nodata, dtype=np.float64)
    for r in range(oh):
        for c in range(ow):
            gx = dst_t[0] * (c + 0.5) + dst_t[1] * (r + 0.5) + dst_t[2]
            gy = dst_t[3] * (c + 0.5) + dst_t[4] * (r + 0.5) + dst_t[5]
            if src_epsg != dst_epsg:
                lon, lat = G.to_wgs84(np.array([gx]), np.array([gy]), dst_epsg)
                sx, sy = G.from_wgs84(lon, lat, src_epsg)
                gx, gy = float(sx[0]), float(sy[0])
            px = ia * gx + ib * gy + ic - 0.5
            py = id_ * gx + ie * gy + if_ - 0.5
            x0, y0 = int(np.floor(px)), int(np.floor(py))
            if not (0 <= x0 and x0 + 1 <= W - 1 and 0 <= y0 and y0 + 1 <= H - 1):
                continue
            fx, fy = px - x0, py - y0
            for ch in range(C):
                acc = 0.0
                for my in (-1, 0, 1, 2):
                    yy = min(max(y0 + my, 0), H - 1)
                    wy = K(fy - my)
                    for mx in (-1, 0, 1, 2):
                        xx = min(max(x0 + mx, 0), W - 1)
                        acc += wy * K(fx - mx) * src[ch, yy, xx]
                out[ch, r, c] = acc
    return out


class TestWarpResampling:
    def test_cubic_exact_on_quadratic_field(self):
        """Keys cubic convolution (a=-0.5) is third-order accurate: it
        reproduces polynomial fields up to degree 2 exactly.  Sample a
        quadratic at irrational subpixel offsets in the interior (away from
        the edge-replicate band) and require 1e-9 agreement."""
        src_t = (2.0, 0.0, 100.0, 0.0, -2.0, 300.0)
        H, W = 60, 60
        cols, rows = np.meshgrid(np.arange(W) + 0.5, np.arange(H) + 0.5)
        # quadratic in pixel coords
        src = (0.5 * cols**2 - 0.3 * rows**2 + 0.2 * cols * rows
               + 3 * cols - rows + 7)[None]
        # dst grid: shifted by an irrational fraction, finer res, interior
        dst_t = (0.7, 0.0, 100.0 + 11.3137, 0.0, -0.7, 300.0 - 9.7071)
        out = R.warp(src, src_t, 32616, dst_t, 32616, (40, 40),
                     nodata=np.nan, resampling="cubic")
        oc, orr = np.meshgrid(np.arange(40) + 0.5, np.arange(40) + 0.5)
        gx = dst_t[0] * oc + dst_t[2]
        gy = dst_t[4] * orr + dst_t[5]
        pc = (gx - 100.0) / 2.0           # src pixel coord (col units)
        pr = (300.0 - gy) / 2.0
        expect = (0.5 * pc**2 - 0.3 * pr**2 + 0.2 * pc * pr
                  + 3 * pc - pr + 7)
        assert not np.isnan(out).any()
        assert np.abs(out[0] - expect).max() < 1e-9

    def test_cubic_matches_naive_reference_with_crs_change(self):
        rng = np.random.default_rng(7)
        src = rng.uniform(0, 1000, size=(2, 24, 24))
        from solaris_spark.functions import geom as G
        src_t = (10.0, 0.0, 730000.0, 0.0, -10.0, 3726000.0)
        lon0, lat0 = G.utm_to_wgs84(np.array([730040.0]),
                                    np.array([3725960.0]), 32616)
        dst_t = (3e-5, 0.0, float(lon0[0]), 0.0, -3e-5, float(lat0[0]))
        got = R.warp(src, src_t, 32616, dst_t, 4326, (12, 12),
                     nodata=-1, resampling="cubic")
        want = _naive_cubic(src, src_t, 32616, dst_t, 4326, (12, 12), -1)
        assert np.abs(got - want).max() < 1e-10

    def test_nearest_exact_pick_and_int_passthrough(self):
        """A +0.25-pixel shifted dest grid rounds back to the same source
        pixel: nearest output must be BYTE-identical to the source."""
        rng = np.random.default_rng(11)
        src = rng.integers(0, 255, size=(3, 16, 16)).astype(np.uint8)
        src_t = (1.0, 0.0, 0.0, 0.0, -1.0, 16.0)
        dst_t = (1.0, 0.0, 0.25, 0.0, -1.0, 16.25)
        out = R.warp(src, src_t, 32616, dst_t, 32616, (16, 16),
                     nodata=0, resampling="nearest")
        assert out.dtype == np.uint8
        assert (out == src).all()

    def test_nearest_outside_gets_nodata(self):
        src = np.ones((1, 8, 8))
        src_t = (1.0, 0.0, 0.0, 0.0, -1.0, 8.0)
        dst_t = (1.0, 0.0, 50.0, 0.0, -1.0, 8.0)
        out = R.warp(src, src_t, 32616, dst_t, 32616, (4, 4),
                     nodata=-5, resampling="nearest")
        assert (out == -5).all()

    def test_cubic_overshoot_clamped_for_int_dtype(self):
        """Cubic overshoots at step edges (Keys kernel has negative lobes);
        integer outputs must be clamped into the dtype range, not wrapped."""
        src = np.zeros((1, 16, 16), dtype=np.uint8)
        src[0, :, 8:] = 255
        src_t = (1.0, 0.0, 0.0, 0.0, -1.0, 16.0)
        dst_t = (0.5, 0.0, 2.0, 0.0, -0.5, 14.0)  # supersample the edge
        out = R.warp(src, src_t, 32616, dst_t, 32616, (20, 20),
                     nodata=0, resampling="cubic")
        assert out.dtype == np.uint8
        assert out.min() >= 0 and out.max() <= 255
        # float path DOES overshoot on the same data — proves the clamp did
        # something real
        outf = R.warp(src.astype(np.float64), src_t, 32616, dst_t, 32616,
                      (20, 20), nodata=0, resampling="cubic")
        assert outf.max() > 255 or outf.min() < 0

    def test_unsupported_resampling_raises(self):
        src = np.zeros((1, 4, 4))
        t = (1.0, 0.0, 0.0, 0.0, -1.0, 4.0)
        with pytest.raises(NotImplementedError):
            R.warp(src, t, 4326, t, 4326, (4, 4), resampling="lanczos")

    def test_resize_average_block_mean_and_partial_edge(self):
        src = np.arange(1 * 5 * 6, dtype=np.float64).reshape(1, 5, 6)
        out = R.resize_average(src, 2, 3)
        assert out.shape == (1, 3, 2)
        # full block: rows 0-1, cols 0-2
        assert abs(out[0, 0, 0] - src[0, 0:2, 0:3].mean()) < 1e-12
        # trailing partial block: row 4 only, cols 3-5
        assert abs(out[0, 2, 1] - src[0, 4:5, 3:6].mean()) < 1e-12

    def test_resize_average_int_rounds(self):
        src = np.array([[[1, 2], [3, 4]]], dtype=np.uint8)
        out = R.resize_average(src, 2, 2)
        assert out.dtype == np.uint8
        assert out[0, 0, 0] == round(2.5)  # banker's? np.rint(2.5) == 2
        assert out[0, 0, 0] == np.rint(2.5)


class TestWarpedTilingResampling:
    @pytest.mark.needs_reference("sample_geotiff.tif")
    def test_cubic_and_nearest_tile_variants(self, spark):
        """raster_tiles_warped(resampling=...) — cubic/nearest produce the
        same tile grid as bilinear with close but non-identical pixels."""
        from solaris_spark.operators import tiling
        from solaris_spark.sources import synth
        images = synth.fixture_image_df(spark)
        geo = synth.image_geo_table(spark, images)
        ig = tiling.with_geo(images, geo)

        def grab(method):
            rows = tiling.raster_tiles_warped(
                ig, (64, 64), dest_epsg=4326, dest_res=(6e-5, 6e-5),
                nodata_threshold=0.99, resampling=method).collect()
            return {r["tile_id"]: r for r in rows}

        bil, cub, near = grab("bilinear"), grab("cubic"), grab("nearest")
        assert set(bil) == set(cub) == set(near)
        some_diff_c = some_diff_n = False
        for tid, b in bil.items():
            ab = np.frombuffer(b["pixels"], dtype=np.uint16).astype(np.int64)
            ac = np.frombuffer(cub[tid]["pixels"], dtype=np.uint16).astype(np.int64)
            an = np.frombuffer(near[tid]["pixels"], dtype=np.uint16).astype(np.int64)
            # same scene: means agree within 2% of the dynamic range
            rng_ = max(ab.max() - ab.min(), 1)
            assert abs(ab.mean() - ac.mean()) < 0.02 * rng_
            assert abs(ab.mean() - an.mean()) < 0.02 * rng_
            some_diff_c |= (ab != ac).any()
            some_diff_n |= (ab != an).any()
        assert some_diff_c and some_diff_n
