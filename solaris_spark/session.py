"""SparkSession builder for the solaris_spark engine.

Design notes for the 100 TB deployment (vs the local[32] sandbox):

- Arrow is mandatory: every geometry/raster kernel runs in pandas/Arrow UDFs
  (BASELINE.json input_hint: "no per-row Python").
- Arrow batches are bounded by bytes: 64 MB
  (``spark.sql.execution.arrow.maxBytesPerBatch``) because ``images.bytes``
  rows are MB-scale blobs — one Arrow batch must stay well under executor
  memory (SURVEY.md §4 "Spill/memory") — with a 10k-record cap
  (``maxRecordsPerBatch``) so thin WKT/text rows still travel in few
  batches.
- AQE on for runtime re-planning + skew-join splitting (hot tile cells).
- On a real cluster, add the Iceberg catalog config documented in
  sources/catalog.py; the sandbox has no Iceberg runtime jar, so tables are
  partitioned parquet with an engine-side snapshot/lineage manifest.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ensure_worker_pythonpath() -> None:
    """Make the engine package importable in Python worker/daemon processes
    regardless of the driver's cwd: the custom daemon module
    (``spark.python.daemon.module=solaris_spark.pydaemon``) and every
    module-referenced UDF must import ``solaris_spark`` executor-side.
    Must run BEFORE the JVM gateway launches (the daemon inherits the
    driver JVM's environment)."""
    existing = os.environ.get("PYTHONPATH", "")
    if _REPO_ROOT not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _REPO_ROOT + (os.pathsep + existing if existing else ""))


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
    _ensure_worker_pythonpath()
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # images are MB-scale binary blobs: bound Arrow batches by BYTES
        # (one batch ≪ executor memory at 100 TB scale) instead of a blanket
        # 64-row cap that shredded thin-row UDF stages into per-batch
        # overhead (r6: WKT/text rows are ~100 B, so 64-row batches meant
        # ~100× more Python round-trips than the 10k-row default).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.execution.arrow.maxBytesPerBatch",
                str(64 * 1024 * 1024))
        # stock pyspark.daemon pays ~300 ms/task (zipimporter re-reads in
        # importlib.invalidate_caches + full gc.collect between tasks) —
        # see solaris_spark/pydaemon.py for the measurements and fix
        .config("spark.python.daemon.module", "solaris_spark.pydaemon")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
