"""SAR band math + RGB↔HSV/HSL parity tests.

Ground truth: colorsys itself (the reference pipes colorsys through
np.vectorize — optical.py:9-92), numpy complex ops for SAR
(sar.py:35-127), and brute-force sliding windows for multilook."""

import colorsys

import numpy as np
import pytest

from solaris_spark.functions import spectral as S


class TestColorKernels:
    def _rand_rgb(self, n=500, seed=5):
        rng = np.random.default_rng(seed)
        return rng.integers(0, 256, size=(3, n, 1)).astype(np.float64)

    def test_rgb_hsv_matches_colorsys(self):
        arr = self._rand_rgb()
        hsv = S.rgb_to_hsv(arr)
        for i in range(arr.shape[1]):
            exp = colorsys.rgb_to_hsv(arr[0, i, 0] / 255.0,
                                      arr[1, i, 0] / 255.0,
                                      arr[2, i, 0] / 255.0)
            assert np.allclose(hsv[:, i, 0], exp, atol=1e-12), i

    def test_rgb_hsl_matches_colorsys(self):
        arr = self._rand_rgb(seed=6)
        hsl = S.rgb_to_hsl(arr)
        for i in range(arr.shape[1]):
            h, l, s = colorsys.rgb_to_hls(arr[0, i, 0] / 255.0,
                                          arr[1, i, 0] / 255.0,
                                          arr[2, i, 0] / 255.0)
            # reference stacks (h, s, l) — optical.py:27
            assert np.allclose(hsl[:, i, 0], (h, s, l), atol=1e-12), i

    def test_hsv_roundtrip(self):
        arr = self._rand_rgb(seed=7)
        back = S.hsv_to_rgb(S.rgb_to_hsv(arr))
        assert np.allclose(back, arr, atol=1e-9)

    def test_hsl_roundtrip(self):
        arr = self._rand_rgb(seed=8)
        back = S.hsl_to_rgb(S.rgb_to_hsl(arr))
        assert np.allclose(back, arr, atol=1e-9)

    def test_hsl_to_rgb_matches_colorsys(self):
        rng = np.random.default_rng(9)
        hsl = rng.random((3, 200, 1))
        rgb = S.hsl_to_rgb(hsl)
        for i in range(200):
            exp = colorsys.hls_to_rgb(hsl[0, i, 0], hsl[2, i, 0],
                                      hsl[1, i, 0])
            assert np.allclose(rgb[:, i, 0] / 255.0, exp, atol=1e-12), i


class TestSarKernels:
    def _complex(self, seed=3):
        rng = np.random.default_rng(seed)
        return (rng.standard_normal((2, 16, 20))
                + 1j * rng.standard_normal((2, 16, 20))).astype(np.complex128)

    def test_amplitude_intensity_phase(self):
        z = self._complex()
        assert np.allclose(S.amplitude(z), np.abs(z))
        assert np.allclose(S.intensity(z), np.abs(z) ** 2)
        assert np.allclose(S.intensity(np.abs(z)), np.abs(z) ** 2)
        assert np.allclose(S.phase(z), np.angle(z))
        assert np.allclose(S.in_phase(z) + 1j * S.quadrature(z), z)
        assert np.allclose(S.conjugate(z), z.conj())

    def test_decibels_flag_semantics(self):
        a = np.array([[[100.0, 10.0], [0.0, -5.0]]])
        db = S.decibels(a, flag="min")
        assert np.isclose(db[0, 0, 0], 20.0) and np.isclose(db[0, 0, 1], 10.0)
        # reference quirk kept for parity (sar.py:116-126): the 'min'
        # flagval is already in dB but still passes through the outer x10,
        # so nonpositive cells get 10 x (10*log10(min_pos)) = 100 here
        assert np.isclose(db[0, 1, 0], 100.0) and np.isclose(db[0, 1, 1], 100.0)
        db_nan = S.decibels(a, flag="nan")
        assert np.isnan(db_nan[0, 1, 0])
        # a numeric flag is the final output value (pre-divided by 10)
        db_k = S.decibels(a, flag=-99.0)
        assert np.isclose(db_k[0, 1, 0], -99.0)

    @pytest.mark.parametrize("method", ["avg", "med", "max"])
    def test_multilook_vs_bruteforce(self, method):
        rng = np.random.default_rng(11)
        a = rng.random((1, 12, 14))
        k = 3
        out = S.multilook(a, kernel_size=k, method=method)
        pad = np.pad(a[0], 1, mode="symmetric")
        for y in range(12):
            for x in range(14):
                win = pad[y:y + k, x:x + k]
                exp = {"avg": win.mean(), "med": np.median(win),
                       "max": win.max()}[method]
                assert np.isclose(out[0, y, x], exp), (y, x)


class TestSpectralOperators:
    def test_sar_chain_on_spark(self, spark):
        """decibels(intensity(amplitude(z))) over complex64 bytes — the
        plumbing survives Spark binary columns and dtype round trips."""
        from solaris_spark.operators.spectral import band_math
        rng = np.random.default_rng(2)
        z = (rng.standard_normal((1, 8, 8))
             + 1j * rng.standard_normal((1, 8, 8))).astype(np.complex64)
        df = spark.createDataFrame(
            [("s1", bytearray(z.tobytes()), 8, 8, 1, "complex64")],
            "image_id string, pixels binary, h int, w int, nchan int, dtype string")
        out = band_math(band_math(df, S.intensity), S.decibels) \
            .collect()[0]
        got = np.frombuffer(out["pixels"], dtype=np.dtype(out["dtype"])) \
            .reshape(1, 8, 8)
        exp = S.decibels(S.intensity(z))
        assert np.allclose(got, exp)

    def test_rgb_hsv_roundtrip_on_spark(self, spark):
        from solaris_spark.operators.spectral import band_math
        rng = np.random.default_rng(4)
        rgb = rng.integers(0, 256, size=(3, 6, 7)).astype(np.float64)
        df = spark.createDataFrame(
            [("c1", bytearray(rgb.tobytes()), 6, 7, 3, "float64")],
            "image_id string, pixels binary, h int, w int, nchan int, dtype string")
        out = band_math(band_math(df, S.rgb_to_hsv), S.hsv_to_rgb) \
            .collect()[0]
        got = np.frombuffer(out["pixels"], dtype=np.float64).reshape(3, 6, 7)
        assert np.allclose(got, rgb, atol=1e-9)
