"""The JPEG codec, the mask kernel, the polygon areas and the engine's
other matrix products give the same bytes whichever BLAS kernel the host
gets.

OpenBLAS picks its kernel for the CPU at load time (``DYNAMIC_ARCH``), and
FMA and non-FMA kernels round differently, so a transform that goes
through BLAS decodes a JPEG to different pixels on different hosts.  Each
case here runs a kernel in a child process with ``OPENBLAS_CORETYPE``
forced to one kernel family and compares a hash of its output; the
setting acts only on those child processes.
"""

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORETYPES = ["Haswell", "SkylakeX", "Sandybridge", "Prescott"]

JPEG = """
import hashlib
import numpy as np
from solaris_spark.functions import jpeg

rng = np.random.default_rng(7)
blocks = rng.normal(0.0, 60.0, (512, 8, 8))
y, x = np.mgrid[0:96, 0:120]
img = np.stack([x * 2, y * 2, (x * y) % 256]).astype(np.int16)
img = (img + rng.integers(-30, 30, img.shape)).clip(0, 255).astype(np.uint8)
buf = jpeg.encode_jpeg(img, quality=85)
h = hashlib.sha256()
for out in (jpeg._fdct_blocks(blocks), jpeg._idct_blocks(blocks),
            np.frombuffer(buf, dtype=np.uint8), jpeg.decode_jpeg(buf)):
    h.update(np.ascontiguousarray(out).tobytes())
print(h.hexdigest())
"""

# geom.pack_polygons' packed rings and masks.build_mask_arrays' bytes of
# two synth images
MASKS = """
import hashlib
from solaris_spark.functions import geom as G
from solaris_spark.operators import masks
from solaris_spark.sources import synth

h = hashlib.sha256()
for seed in (3, 7):
    wkts = synth.synth_labels_for(seed, f"img_{seed:04d}", 400, 300, 60, 120)
    for a in G.pack_polygons(wkts):
        h.update(a.tobytes())
    h.update(masks.build_mask_arrays(
        wkts, (300, 400), ["footprint", "boundary", "contact"]).tobytes())
print(h.hexdigest())
"""


# ring_signed_area over seeded rings at UTM-sized coordinates, the
# prepare_polygons areas and polygon_sets + overlaps IoUs of the
# test_geom_bits eval groups, and clip_polygon_rect areas of their
# polygons against seeded rects: every area the engine reads goes through
# the one sequential shoelace sum (1-D np.dot, BLAS ddot, gave 4 hashes
# under these 4 kernels)
AREAS = """
import hashlib
import numpy as np
from solaris_spark.functions import geom as G
from tests.test_geom_bits import _eval_group

rng = np.random.default_rng(11)
h = hashlib.sha256()
for _ in range(396):
    m = int(rng.integers(3, 40))
    ang = np.sort(rng.uniform(0.0, 2 * np.pi, m))
    rad = rng.uniform(1.0, 200.0, m)
    c = rng.uniform([2e5, 3e6], [8e5, 5e6])
    ring = c + np.c_[rad * np.cos(ang), rad * np.sin(ang)]
    ring = np.vstack([ring, ring[:1]])
    h.update(np.float64(G.ring_signed_area(ring)).tobytes())
for seed in (0, 1, 2):
    gt, pred = _eval_group(seed)
    gs, ps = G.polygon_sets(gt, pred)
    for a in (gs.area, ps.area, *G.overlaps(ps, gs)[2:]):
        h.update(a.tobytes())
    for rings, signed, box in zip(gs.rings, gs.signed, gs.bbox):
        if rings:
            lo, hi = box[:2], box[2:]
            rect = tuple(np.r_[lo, lo + rng.uniform(0.3, 0.9) * (hi - lo)])
            h.update(np.float64(G.clip_polygon_rect(rings, rect,
                                                    signed)[1]).tobytes())
print(h.hexdigest())
"""

# the other matrix products whose results a threshold, sign or argmin
# reads: raster.phash64's DCT, the SRP sketch bits of
# dedup.embedding_near_dup_pairs and the IVF cells of ann's assign and
# probe UDFs
PRODUCTS = """
import hashlib
import numpy as np
import pyarrow as pa
from solaris_spark.functions import raster
from solaris_spark.operators import ann

rng = np.random.default_rng(13)
h = hashlib.sha256()
for _ in range(300):
    img = rng.integers(0, 256, (3, int(rng.integers(32, 97)),
                                int(rng.integers(32, 97))), dtype=np.uint8)
    h.update(np.uint64(raster.phash64(img)).tobytes())
X = rng.standard_normal((2000, 64))
P = rng.standard_normal((32, 64))
h.update(np.packbits((X @ P.T) >= 0.0).tobytes())
C = rng.standard_normal((64, 64))
v = pa.array(X.tolist())
h.update(np.asarray(ann._cell_assign_udf(C).func(v)).tobytes())
h.update(np.asarray(ann._probe_cells_udf(C, 4).func(v).to_pylist()).tobytes())
print(h.hexdigest())
"""


def _digest(kernel: str, coretype: str) -> str:
    env = dict(os.environ, OPENBLAS_CORETYPE=coretype,
               PYTHONPATH=REPO + os.pathsep + os.environ.get("PYTHONPATH", ""))
    res = subprocess.run([sys.executable, "-c", kernel], env=env,
                         capture_output=True, text=True, timeout=120)
    assert res.returncode == 0, res.stderr[-2000:]
    return res.stdout.strip().splitlines()[-1]


@pytest.fixture(scope="module")
def digests():
    return {c: _digest(JPEG, c) for c in CORETYPES}


@pytest.fixture(scope="module")
def mask_digests():
    return {c: _digest(MASKS, c) for c in CORETYPES}


@pytest.fixture(scope="module")
def area_digests():
    return {c: _digest(AREAS, c) for c in CORETYPES}


@pytest.fixture(scope="module")
def product_digests():
    return {c: _digest(PRODUCTS, c) for c in CORETYPES}


@pytest.mark.parametrize("coretype", CORETYPES[1:])
def test_jpeg_codec_bytes_equal_across_blas_kernels(digests, coretype):
    assert digests[coretype] == digests[CORETYPES[0]]


@pytest.mark.parametrize("coretype", CORETYPES[1:])
def test_mask_kernel_bytes_equal_across_blas_kernels(mask_digests, coretype):
    assert mask_digests[coretype] == mask_digests[CORETYPES[0]]


@pytest.mark.parametrize("coretype", CORETYPES[1:])
def test_areas_equal_across_blas_kernels(area_digests, coretype):
    assert area_digests[coretype] == area_digests[CORETYPES[0]]


@pytest.mark.parametrize("coretype", CORETYPES[1:])
def test_matrix_products_equal_across_blas_kernels(product_digests,
                                                   coretype):
    assert product_digests[coretype] == product_digests[CORETYPES[0]]
