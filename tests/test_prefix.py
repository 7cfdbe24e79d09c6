"""Distributed prefix aggregation (plans/prefix.py) — must reproduce the
single-partition Window.orderBy plan exactly, including ties, decimals,
and both directions, while never using an unpartitioned window."""

import numpy as np
import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from solaris_spark.plans.prefix import global_running_agg


@pytest.fixture(scope="module")
def data(spark):
    rng = np.random.default_rng(21)
    rows = [(int(i), float(np.round(rng.uniform(0, 100), 1)),
             int(rng.integers(0, 2))) for i in range(5000)]
    # inject heavy ties so bucket-boundary tie handling is exercised
    rows += [(10000 + i, 50.0, i % 2) for i in range(200)]
    return spark.createDataFrame(rows, "id long, v double, flag int") \
        .repartition(8)


class TestGlobalRunningAgg:
    @pytest.mark.parametrize("ascending", [True, False])
    def test_matches_single_window(self, data, ascending):
        direction = F.asc("v") if ascending else F.desc("v")
        w = Window.orderBy(direction, F.asc("id")) \
            .rowsBetween(Window.unboundedPreceding, 0)
        exp = {r["id"]: (r["cum_n"], r["cum_flag"]) for r in
               data.withColumn("cum_n", F.count(F.lit(1)).over(w))
                   .withColumn("cum_flag", F.sum("flag").over(w))
                   .collect()}
        got = {r["id"]: (r["cum_n"], r["cum_flag"]) for r in
               global_running_agg(
                   data, "v", {"cum_n": F.lit(1), "cum_flag": F.col("flag")},
                   ascending=ascending, tie_cols=("id",),
                   n_buckets=16).collect()}
        assert got == exp

    def test_plan_has_no_unpartitioned_window(self, data):
        out = global_running_agg(
            data, "v", {"cum_n": F.lit(1)}, ascending=False,
            tie_cols=("id",), n_buckets=16)
        plan = out._jdf.queryExecution().executedPlan().toString()
        for line in plan.splitlines():
            if "Window" in line and "windowspecdefinition" in line:
                # every window spec must carry partition expressions
                assert "__prefix_bkt" in line, line

    def test_decimal_sums_stay_exact(self, spark):
        rows = [(i, f"{(i * 7919) % 10000}.{i % 100:02d}") for i in range(500)]
        df = spark.createDataFrame(rows, "id int, s string") \
            .select("id", F.col("s").cast("decimal(18,2)").alias("price"))
        w = Window.orderBy(F.desc("price"), F.asc("id")) \
            .rowsBetween(Window.unboundedPreceding, 0)
        exp = {r["id"]: r["c"] for r in
               df.withColumn("c", F.sum("price").over(w)).collect()}
        got = {r["id"]: r["c"] for r in
               global_running_agg(df, "price", {"c": F.col("price")},
                                  ascending=False, tie_cols=("id",),
                                  n_buckets=8).collect()}
        assert got == exp

    def test_single_bucket_degenerate(self, spark):
        df = spark.createDataFrame([(i, 5.0) for i in range(10)],
                                   "id int, v double")
        got = sorted(
            (r["id"], r["n"]) for r in global_running_agg(
                df, "v", {"n": F.lit(1)}, tie_cols=("id",)).collect())
        assert [n for _, n in got] == list(range(1, 11))

    def test_empty_input(self, spark):
        df = spark.createDataFrame([], "id int, v double")
        assert global_running_agg(df, "v", {"n": F.lit(1)}).count() == 0

    @pytest.mark.parametrize("kind", ["rand", "unseeded_udf"])
    def test_nondeterministic_input_counts_1_to_n(self, spark, kind):
        """A nondeterministic ordering column over a repartitioned input:
        the percentile pass and both subtrees of the final job read one
        materialization, so the running counts are exactly 1..n in the
        global order (v, id).  F.rand is seeded per partition, so a
        recomputation repeats it; the unseeded Python UDF draws new values
        on every evaluation."""
        import random
        df = spark.range(3000).repartition(7)
        if kind == "rand":
            v = F.rand()
        else:
            v = F.udf(lambda i: random.random(), "double") \
                .asNondeterministic()("id")
        rows = global_running_agg(df.withColumn("v", v), "v",
                                  {"n": F.lit(1)}, tie_cols=("id",),
                                  n_buckets=8).collect()
        rows.sort(key=lambda r: (r["v"], r["id"]))
        assert [r["n"] for r in rows] == list(range(1, 3001))


class TestPropertyParity:
    def test_random_cases_match_single_window(self, spark):
        """Randomized shapes (sizes, duplicates, negatives, bucket counts)
        all reproduce the single-window plan exactly."""
        import random
        rnd = random.Random(99)
        for case in range(4):
            n = rnd.choice([1, 7, 300, 2500])
            nb = rnd.choice([2, 8, 33])
            rows = [(i, float(rnd.choice([-5, 0, 1.5, rnd.uniform(-100, 100)])),
                     rnd.randint(-3, 3)) for i in range(n)]
            df = spark.createDataFrame(rows, "id long, v double, x int") \
                .repartition(5)
            w = Window.orderBy(F.asc("v"), F.asc("id")) \
                .rowsBetween(Window.unboundedPreceding, 0)
            exp = {r["id"]: r["s"] for r in
                   df.withColumn("s", F.sum("x").over(w)).collect()}
            got = {r["id"]: r["s"] for r in
                   global_running_agg(df, "v", {"s": F.col("x")},
                                      ascending=True, tie_cols=("id",),
                                      n_buckets=nb).collect()}
            assert got == exp, (case, n, nb)
