"""SparkSession builder for the solaris_spark engine.

Design notes for the 100 TB deployment (vs the local[32] sandbox):

- Arrow is mandatory: every geometry/raster kernel runs in an Arrow UDF
  (operators/blobs.py: scalar_udf for columns, map_blobs/group_blobs for
  rows; BASELINE.json input_hint: "no per-row Python").
- Arrow batches are bounded by bytes: 4 MB
  (``spark.sql.execution.arrow.maxBytesPerBatch``) because ``images.bytes``
  rows are MB-scale blobs — one Arrow batch must stay well under executor
  memory (SURVEY.md §4 "Spill/memory") — under Spark's default 10k-record
  cap (``maxRecordsPerBatch``), so thin WKT/text rows still travel in few
  batches.  Spark fills a batch while it is under 4 MB, so it holds two
  1000² RGB images (3 MB each), and the JVM encodes the next batch while
  Python works on this one; at 64 MB it encoded a
  whole partition before Python started (tile_mask: raster_tiles 1.08 s
  a pass at 64 MB, 0.54-0.74 s at 4 MB; 1-2 MB gave the same within the
  host's noise, 8-16 MB were slower).  Thin rows still reach the 10k
  cap first: a row is cut by bytes before the cap only above ~420 B
  (4 MiB / 10k), and label_eval's WKT is 100-130 B in pixel and
  151-201 B in CRS coordinates.  Counted per input batch (seed 7), one
  51,200-row partition of labels reaches labels_geo's UDF in 10k-row
  batches (about 1.5 MB of arguments each) at 4 MB and at 64 MB alike,
  and at the benchmark's own size (400 labels, about 1,030 clip
  candidates a partition) labels_geo and vector_tiles get the same
  batches under both bounds, while greedy_iou_match's per-image groups
  hold at most 53 rows (5.7 KB of WKT).  Rows of 1 KB would come 4,000
  to a batch: 2.5x the batches of the cap, not the ~100x of r6's
  64-row batches.
- AQE, its partition coalescing and its skew-join splitting (hot tile
  cells) are on by Spark's defaults; tests/test_session.py pins those
  and the Arrow batch bounds as the session reports them.
- The worker daemon is solaris_spark.pydaemon wherever workers can import
  it when they start; under ``spark-submit --py-files`` the zip reaches a
  worker's path only with its first task, so the stock daemon runs.
- Python workers talk to the JVM over Unix domain sockets
  (``spark.python.unix.domain.socket.enabled``), not loopback TCP.  Spark
  opens its side of the TCP channel without ``TCP_NODELAY`` (no conf
  sets it), so Nagle's algorithm there meets the worker kernel's delayed
  ACK: from about the fifth task on a reused worker connection, a UDF
  waited 40-45 ms for its input (median 43 ms over 16 one-row
  ``mapInArrow`` tasks at local[2]; 0.45 ms over the Unix socket), and a
  no-op ``mapInArrow`` over 32 one-row partitions took 0.85-1.1 s
  instead of 0.19-0.5 s.  The sockets live in one private (0700)
  directory with a short path under ``/tmp``, made once per driver
  process and removed at its exit.  Spark's default directory is
  ``java.io.tmpdir``; a long one (perfbench puts it under the checkout)
  overflows ``AF_UNIX``'s 108-byte path limit, and the SparkContext fails
  at start.  The worker side of each socket gets a send buffer of one
  output batch (solaris_spark/pydaemon.py).
- On a real cluster, add the Iceberg catalog config documented in
  sources/catalog.py; the sandbox has no Iceberg runtime jar, so tables are
  partitioned parquet with an engine-side snapshot/lineage manifest.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _workers_import_engine() -> bool:
    """Whether the Python worker daemon can import this package when it
    starts, which is before a task puts any ``--py-files`` zip on its
    path.  A JVM this process launches inherits the package's root on
    ``PYTHONPATH`` (set here first, so every module-referenced UDF imports
    on the workers whatever the driver's cwd).  A JVM that was already
    running (``spark-submit``, or an earlier session) hands workers its own
    ``PYTHONPATH``, so the root must be on that."""
    if SparkContext._gateway is None \
            and "PYSPARK_GATEWAY_PORT" not in os.environ:
        existing = os.environ.get("PYTHONPATH", "")
        if _REPO_ROOT not in existing.split(os.pathsep):
            os.environ["PYTHONPATH"] = (
                _REPO_ROOT + (os.pathsep + existing if existing else ""))
        return True
    SparkContext._ensure_initialized()
    jvm_path = SparkContext._jvm.java.lang.System.getenv("PYTHONPATH") or ""
    return _REPO_ROOT in jvm_path.split(os.pathsep)


@functools.cache
def _socket_dir() -> str:
    """This driver process's directory for the Python workers' Unix
    sockets: private (``mkdtemp`` makes it 0700), short enough for any
    socket name Spark puts in it, and removed when the process exits."""
    path = tempfile.mkdtemp(prefix="ssp-", dir="/tmp")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def get_spark(app_name: str = "solaris_spark",
              cores: int | str | None = None,
              shuffle_partitions: int | None = None,
              driver_memory: str = "48g",
              extra_conf: dict | None = None) -> SparkSession:
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cores in ("*",) else max(int(cores), 4)
    # stock pyspark.daemon pays ~36 ms/task for zipimporter re-reads in
    # importlib.invalidate_caches, plus a full gc.collect between tasks
    # (~9 ms with the engine imported) — see solaris_spark/pydaemon.py for
    # the measurements and fix; workers that cannot import it at start
    # keep the stock daemon
    daemon = ("solaris_spark.pydaemon" if _workers_import_engine()
              else "pyspark.daemon")
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # one or two 1000² images per batch: encoding overlaps the UDF
        .config("spark.sql.execution.arrow.maxBytesPerBatch",
                str(4 * 1024 * 1024))
        .config("spark.python.daemon.module", daemon)
        # Unix sockets to the workers: no 40 ms Nagle/delayed-ACK stall
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.python.unix.domain.socket.dir", _socket_dir())
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
