"""Distributed prefix (running) aggregation.

``Window.orderBy(...)`` with NO ``partitionBy`` is the classic scale
killer: Spark moves EVERY row to a single partition (``WindowExec: No
Partition Defined`` warns) — fine at 2k rows, fatal at 100 TB.  The
global running sums the reference relies on (mAP's conf-desc cumulative
TP/FP, eval/vector.py:484-492) are still expressible scale-safely as a
textbook distributed prefix sum:

1. bucket every row by RANGE of the ordering key — boundaries come from
   one ``percentile_approx`` pass, computed once driver-side and embedded
   as literals, so bucketing is deterministic across jobs (no
   repartitionByRange re-sampling hazard);
2. run the cumulative window WITHIN each bucket (partitioned window —
   parallel, spill-safe);
3. add each bucket's exclusive prefix offset.  The offsets are derived
   IN-PLAN (r6): per-bucket totals are a tiny aggregation (≤ n_buckets
   rows), their exclusive prefix is a bounded self-join over those
   ≤ n_buckets rows (≤ n_buckets² comparisons — a constant, not data-
   scaled, and no unpartitioned window), and the result is broadcast-
   joined back on the bucket id.  Compared to the previous
   collect-and-fold-literals formulation this removes one driver
   round-trip (the totals collect job) and the MEMORY_AND_DISK persist
   whose blocks previously stayed pinned for the life of the returned
   plan (ADVICE r5).

Equal ordering-key values always land in the same bucket (bucket index =
count of boundaries strictly below the value), so within-tie behavior is
identical to the single-window plan.

The input is read three times: by the percentile pass and by the totals
and window subtrees of the one final job.  With a deterministic upstream
(scan/filter — every in-repo caller) every read sees the same rows and
buckets them identically.  When Spark's optimized plan of the input is
NONDETERMINISTIC (sampling, ``rand``, a shuffle feeding a
nondeterministic expression), or the plan cannot be inspected (no JVM
DataFrame, e.g. Spark Connect), the function first materializes the
input with ``localCheckpoint()`` so all three reads see one set of rows.
The checkpoint blocks belong to the returned plan, and Spark's
ContextCleaner frees them once that plan is garbage-collected; there is
no cache for the caller to release.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

_BKT = "__prefix_bkt"


def global_running_agg(df: DataFrame, order_col: str,
                       aggs: dict[str, Column], *, ascending: bool = True,
                       tie_cols: tuple = (), n_buckets: int = 64,
                       accuracy: int = 10000) -> DataFrame:
    """Append running-SUM columns over a GLOBAL ordering without a
    single-partition window.

    aggs: {output_name: column to sum} (use ``F.lit(1)`` for a running
    count).  Ordering is ``order_col`` asc/desc, then ``tie_cols`` asc —
    the same total order ``Window.orderBy`` would use.  Numeric types are
    preserved (decimal sums stay decimal and widen exactly as the
    single-window plan does; offsets are exact decimal sums, not floats).
    A nondeterministic input is materialized once first (module docstring).
    """
    jdf = getattr(df, "_jdf", None)
    if jdf is None or not jdf.queryExecution().optimizedPlan().deterministic():
        df = df.localCheckpoint()
    qs = [i / n_buckets for i in range(1, n_buckets)]
    row = df.select(F.percentile_approx(
        F.col(order_col).cast("double"), qs, accuracy).alias("b")).first()
    bounds = sorted(set(row["b"] or [])) if row is not None else []

    # bucket = number of boundaries strictly below the value, as a sum of
    # comparisons, not a higher-order filter over a boundary array: Spark
    # 4.1's constraint inference can copy such a filter onto the offsets
    # side of the join below, where the ordering column does not exist,
    # and the job then fails binding it (seen in a fresh session).
    key = F.col(order_col).cast("double")
    bucket = F.lit(0)
    for b in bounds:
        bucket = bucket + F.when(F.lit(float(b)) < key, 1).otherwise(0)
    d = df.withColumn(_BKT, bucket)

    # per-bucket totals: bounded (≤ n_buckets rows).  Exclusive prefix =
    # for each bucket, the sum of totals over buckets that the global
    # ordering visits FIRST (smaller _BKT when ascending, larger when
    # descending) — a ≤ n_buckets × n_buckets self-join, i.e. O(1) in the
    # data size, then broadcast back.  No driver collect, no
    # unpartitioned window.
    tot = (d.groupBy(_BKT)
           .agg(*[F.sum(col).alias(name) for name, col in aggs.items()]))
    a, b = tot.alias("a"), tot.alias("b")
    before = (F.col(f"b.{_BKT}") < F.col(f"a.{_BKT}") if ascending
              else F.col(f"b.{_BKT}") > F.col(f"a.{_BKT}"))
    off_cols = {name: f"__off_{name}" for name in aggs}
    off = (a.join(b, before, "left")
           .groupBy(F.col(f"a.{_BKT}").alias(_BKT))
           .agg(*[F.sum(F.col(f"b.{name}")).alias(off_cols[name])
                  for name in aggs]))
    d = d.join(F.broadcast(off), _BKT)

    direction = F.asc(order_col) if ascending else F.desc(order_col)
    w = Window.partitionBy(_BKT) \
        .orderBy(direction, *[F.asc(t) for t in tie_cols]) \
        .rowsBetween(Window.unboundedPreceding, 0)

    for name, col in aggs.items():
        loc = F.sum(col).over(w)
        off_c = F.col(off_cols[name])
        d = d.withColumn(name,
                         F.when(off_c.isNull(), loc).otherwise(loc + off_c))
    return d.drop(_BKT, *off_cols.values())
