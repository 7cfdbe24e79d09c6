"""The JPEG codec and the mask kernel give the same bytes whichever BLAS
kernel the host gets.

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


@pytest.mark.parametrize("coretype", CORETYPES[1:])
def test_jpeg_codec_bytes_equal_across_blas_kernels(digests, coretype):
    assert digests[coretype] == digests[CORETYPES[0]]


@pytest.mark.parametrize("coretype", CORETYPES[1:])
def test_mask_kernel_bytes_equal_across_blas_kernels(mask_digests, coretype):
    assert mask_digests[coretype] == mask_digests[CORETYPES[0]]
