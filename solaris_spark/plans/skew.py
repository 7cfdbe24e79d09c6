"""Skew handling: salting + range repartitioning (north rule: "partitioning /
shuffle / skew handled explicitly").

The reference has no skew handling (its per-image loop is serial —
SURVEY §4); at 10^12 images the hot keys are (a) dense tile cells (city
centers vs ocean) and (b) mega-images with 10^5 labels.  Tools:

- salt_column / salted_join: classic N-way key salting: replicate the small
  side N times, scatter the big side uniformly.
- repartition_by_range: range-partition on (cell, image_id) so tile-density
  skew spreads along the Z-order curve (locality-preserving: neighboring
  cells land in the same partition → downstream joins co-locate).
- AQE (spark.sql.adaptive.skewJoin) is enabled by session.py as the runtime
  backstop; these helpers are the plan-time lever.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from py4j.protocol import Py4JError
from pyspark.sql import DataFrame


def salt_column(n_salts: int, key_col: str = None):
    """Deterministic salt 0..n_salts-1: hash-based when key_col given (stable
    across runs — lineage-friendly), uniform random otherwise."""
    if key_col is not None:
        return F.pmod(F.hash(F.col(key_col)), F.lit(n_salts))
    return F.floor(F.rand(seed=42) * n_salts).cast("int")


def salted_join(big: DataFrame, small: DataFrame, key: str,
                n_salts: int = 8, how: str = "inner",
                salt_by: str | None = None) -> DataFrame:
    """Equi-join where `big` has hot values of `key`: big side gets a salt
    from a secondary column (or random), small side is exploded ×n_salts.
    Shuffle width for hot keys drops from 1 task to n_salts tasks."""
    b = big.withColumn("_salt", salt_column(n_salts, salt_by))
    s = small.withColumn("_salt", F.explode(
        F.sequence(F.lit(0), F.lit(n_salts - 1))))
    out = b.join(s, [key, "_salt"], how)
    return out.drop("_salt")


def ensure_parallelism(df: DataFrame,
                       min_bytes: int | None = None) -> DataFrame:
    """Rebalance `df` to cluster parallelism IF its scan is narrower than
    the cluster (guide §2.5 input-skew: "one huge unsplittable file …
    repartition immediately after the read").

    A single-row-group parquet file scans as ONE task no matter how many
    cores exist, serializing whatever CPU-heavy stage it feeds (shingle
    hashing, exact percentiles).  Only acts when the planned scan is
    narrower than ``defaultParallelism`` — at real scale inputs split into
    >= cores tasks and this returns `df` unchanged (no shuffle added).

    ``min_bytes``: additionally require the optimizer's size estimate to
    reach this floor before rebalancing — for stages whose per-byte CPU
    amplification is modest, a small input is cheaper to process serially
    than to shuffle first (measured: simhash at sf0.1 lost ~0.1-0.3 s to
    an unconditional rebalance)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if min_bytes is not None:
        try:
            est = int(df._jdf.queryExecution().optimizedPlan()
                      .stats().sizeInBytes())
        except Exception:
            # non-classic session (no _jdf): skip the floor, keep the
            # partition-count guard — rebalancing is the safe default
            est = min_bytes
        if est < min_bytes:
            return df
    if planned_partitions(df) < target:
        return df.repartition(target)
    return df


def planned_partitions(df: DataFrame) -> int:
    """The number of partitions ``df`` will have, read from its physical
    plan without running a job.  ``df.rdd.getNumPartitions()`` would run
    every shuffle stage below ``df`` under AQE (and fill a pending cache)
    just to count; before any stage runs, an exchange's width is the
    planned one, which AQE may still coalesce."""
    try:
        return _plan_width(df._jdf.queryExecution().executedPlan())
    except (AttributeError, ValueError, Py4JError):
        # non-classic session (no _jdf), or a plan node this walk does not
        # know: count through the RDD
        return df.rdd.getNumPartitions()


def _plan_width(plan) -> int:
    kind = plan.getClass().getSimpleName()
    if kind == "AdaptiveSparkPlanExec":
        return _plan_width(plan.executedPlan())
    n = plan.outputPartitioning().numPartitions()
    if n:
        return n
    kids = plan.children()
    if kind == "InMemoryTableScanExec":
        return _plan_width(plan.relation().cachedPlan())
    if kids.isEmpty():
        # a scan's RDD knows its splits without running a job
        return plan.execute().getNumPartitions()
    if kind == "UnionExec":
        return sum(_plan_width(kids.apply(i)) for i in range(kids.size()))
    if kids.size() == 1:
        return _plan_width(kids.head())
    if kind == "BroadcastHashJoinExec":
        return _plan_width(plan.streamedPlan())
    raise ValueError(f"no planned width for {kind}")


def repartition_by_range(df: DataFrame, n: int, *cols) -> DataFrame:
    """Range repartition (default: Z-order cell then image_id) — balances
    tile-density skew while keeping spatial locality within partitions."""
    if not cols:
        cols = ("cell", "image_id")
    return df.repartitionByRange(n, *[F.col(c) for c in cols])
