import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pytest

REF_DATA = "/root/reference/solaris/data"


def ref(path: str) -> str:
    return os.path.join(REF_DATA, path)


@pytest.fixture(scope="session")
def ref_data_dir():
    return REF_DATA


@pytest.fixture(scope="session")
def spark():
    """Session-wide local SparkSession (local[4] keeps test startup light)."""
    from solaris_spark.session import get_spark

    s = get_spark(app_name="solaris-spark-tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(params=["raw-u8-c3", "raw-u16-c1", "raw-i16-c3",
                        "raw-f32-c1", "raw-u16-c3"])
def raw_fmt(request):
    """The raw pixel formats the tile round-trip tests run over."""
    return request.param


@pytest.fixture
def raw_image(raw_fmt):
    """Factory of seeded (C, h, w) pixels in `raw_fmt`.  Values are >= 1 so
    0 can mark nodata, and exceed 255 for wide types so a byte swap shows."""
    kind, bits, nchan = re.fullmatch(r"raw-([uif])(\d+)-c(\d+)",
                                     raw_fmt).groups()
    dtype = np.dtype(f"<{kind}{int(bits) // 8}")
    hi = 120 if dtype.itemsize == 1 else 1000

    def make(h, w, seed=0):
        rng = np.random.default_rng(seed)
        return rng.integers(1, hi, size=(int(nchan), h, w)).astype(dtype)

    return make
