"""Counting a DataFrame's partitions from its plan starts no Spark job.

Under AQE, ``df.rdd.getNumPartitions()`` runs every shuffle stage below
``df`` (and fills a pending cache) just to count.  plans.skew reads the
width from the physical plan instead; ensure_parallelism and
vector_tiles' grid coalesce both use it while a query is being built.
"""

import pyspark.sql.functions as F
import pytest

from solaris_spark.operators import tiling
from solaris_spark.plans.skew import ensure_parallelism


def _jobs(spark, group, build):
    """Job ids started in ``group`` while ``build()`` runs."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _with_exchange(spark):
    return spark.range(20000).repartition(3).groupBy(
        (F.col("id") % 97).alias("k")).count()


def test_ensure_parallelism_over_exchange_starts_no_job(spark):
    df = _with_exchange(spark)
    out, jobs = _jobs(spark, "width-ensure", lambda: ensure_parallelism(df))
    assert jobs == []
    assert out is df     # the aggregate's 8 shuffle partitions cover 4 cores


def test_vector_tiles_over_exchanged_grid_starts_no_job(spark):
    grid = (spark.range(64)
            .select(F.lit("i0").alias("image_id"),
                    (F.col("id") % 8).cast("int").alias("tx"),
                    (F.col("id") / 8).cast("int").alias("ty"))
            .withColumn("xmin", F.col("tx") * 16.0)
            .withColumn("ymin", F.col("ty") * 16.0)
            .withColumn("xmax", F.col("xmin") + 16.0)
            .withColumn("ymax", F.col("ymin") + 16.0)
            .withColumn("tile_id", F.concat_ws("_", "tx", "ty"))
            .repartition(16))
    labels = spark.createDataFrame(
        [("i0", 1, "POLYGON ((1 1, 20 1, 20 20, 1 20, 1 1))")],
        "image_id string, label_id int, wkt_geo string")
    out, jobs = _jobs(spark, "width-vt",
                      lambda: tiling.vector_tiles(labels, grid))
    assert jobs == []
    assert sorted(r.tile_id for r in out.collect()) == [
        "0_0", "0_1", "1_0", "1_1"]


@pytest.mark.parametrize("shape", [
    "local", "rdd3", "range", "parquet", "union", "repartition",
    "aggregate", "coalesce", "cached", "broadcast_join"])
def test_planned_width_equals_rdd_width(spark, tmp_path, shape):
    from solaris_spark.plans.skew import planned_partitions

    path = str(tmp_path / "p.parquet")
    spark.range(1000).write.parquet(path)
    sc = spark.sparkContext
    df = {
        "local": lambda: spark.createDataFrame([(i,) for i in range(10)],
                                               "id long"),
        "rdd3": lambda: spark.createDataFrame(
            sc.parallelize([(i,) for i in range(10)], 3), "id long"),
        "range": lambda: spark.range(100),
        "parquet": lambda: spark.read.parquet(path).filter("id > 5"),
        "union": lambda: spark.range(10).union(spark.read.parquet(path)),
        "repartition": lambda: spark.range(1000).repartition(6),
        "aggregate": lambda: spark.range(1000).repartition(6)
        .groupBy().count(),
        "coalesce": lambda: spark.range(100).repartition(12).coalesce(3),
        "cached": lambda: spark.range(100).repartition(5).cache(),
        "broadcast_join": lambda: spark.read.parquet(path).join(
            F.broadcast(spark.range(50)), "id"),
    }[shape]()
    width, jobs = _jobs(spark, f"width-{shape}",
                        lambda: planned_partitions(df))
    assert jobs == []
    assert width == df.rdd.getNumPartitions()
    df.unpersist()
