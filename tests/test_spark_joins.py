"""Spatial join / kNN / phash-LSH / skew / lineage operator tests with
brute-force oracles computed in pandas."""

import numpy as np
import pandas as pd
import pytest
import pyspark.sql.functions as F

from solaris_spark.operators import joins
from solaris_spark.plans import lineage, skew


@pytest.fixture(scope="module")
def rng():
    return np.random.default_rng(7)


class TestPointInPolygonJoin:
    def test_vs_bruteforce(self, spark, rng):
        pts = [(int(i), float(x), float(y)) for i, (x, y) in
               enumerate(rng.uniform(0, 1000, size=(300, 2)))]
        polys = []
        for j in range(20):
            cx, cy = rng.uniform(100, 900, 2)
            r = rng.uniform(20, 120)
            ang = np.sort(rng.uniform(0, 2 * np.pi, 6))
            xs = cx + r * np.cos(ang)
            ys = cy + r * np.sin(ang)
            ring = ", ".join(f"{x} {y}" for x, y in zip(xs, ys))
            wkt = f"POLYGON (({ring}, {xs[0]} {ys[0]}))"
            polys.append((j, wkt, float(xs.min()), float(ys.min()),
                          float(xs.max()), float(ys.max())))
        p = spark.createDataFrame(pts, "pid int, x double, y double")
        g = spark.createDataFrame(
            polys, "poly_id int, wkt string, xmin double, ymin double, "
                   "xmax double, ymax double")
        got = {(r["pid"], r["poly_id"]) for r in
               joins.point_in_polygon_join(p, g, cell_size=128.0)
               .select("pid", "poly_id").collect()}

        from solaris_spark.functions import geom as G
        exp = set()
        for j, wkt, *_ in polys:
            rings = G.polygon_rings(wkt)
            xs = np.array([x for _, x, _ in pts])
            ys = np.array([y for _, _, y in pts])
            inside = G.points_in_polygon(xs, ys, rings)
            for i in np.where(inside)[0]:
                exp.add((int(pts[i][0]), j))
        assert got == exp and len(exp) > 0


class TestKnnJoin:
    def test_vs_bruteforce(self, spark, rng):
        q = rng.uniform(0, 1000, size=(50, 2))
        t = rng.uniform(0, 1000, size=(500, 2))
        qdf = spark.createDataFrame(
            [(i, float(x), float(y)) for i, (x, y) in enumerate(q)],
            "qid int, x double, y double")
        tdf = spark.createDataFrame(
            [(i, float(x), float(y)) for i, (x, y) in enumerate(t)],
            "tid int, x double, y double")
        k = 5
        got = joins.knn_join(qdf, tdf, k=k, cell_size=100.0, max_ring=3)
        gotm = {(r["qid"], r["rank"]): r["tid"] for r in got.collect()}
        d = ((q[:, None, :] - t[None, :, :]) ** 2).sum(-1) ** 0.5
        for qi in range(len(q)):
            order = np.lexsort((np.arange(len(t)), d[qi]))[:k]
            for rank, ti in enumerate(order, start=1):
                assert gotm[(qi, rank)] == int(ti), (qi, rank)


class TestPhashLsh:
    def test_self_join_vs_bruteforce(self, spark, rng):
        base = rng.integers(0, 2 ** 63 - 1, size=40, dtype=np.int64)
        rows = []
        for i, h in enumerate(base):
            rows.append((f"img_{i:03d}", int(h)))
            # a near-dup: flip ≤2 bits
            flipped = int(h) ^ (1 << int(rng.integers(0, 64))) \
                ^ (1 << int(rng.integers(0, 64)))
            rows.append((f"img_{i:03d}_dup", np.int64(np.uint64(flipped) & np.uint64(0x7FFFFFFFFFFFFFFF)).item()))
        df = spark.createDataFrame(rows, "image_id string, phash long")
        got = {(r["id_a"], r["id_b"]) for r in
               joins.phash_near_dup_join(df, max_hamming=3).collect()}
        exp = set()
        for i in range(len(rows)):
            for j in range(i + 1, len(rows)):
                ham = bin((rows[i][1] ^ rows[j][1]) & 0xFFFFFFFFFFFFFFFF).count("1")
                if ham <= 3:
                    a, b = sorted([rows[i][0], rows[j][0]])
                    exp.add((a, b))
        assert got == exp and len(exp) >= 40  # every dup pair found


class TestSkew:
    def test_salted_join_equals_plain(self, spark, rng):
        big = spark.createDataFrame(
            [(int(i % 3), int(i)) for i in range(1000)], "k int, v int")
        small = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")],
                                      "k int, name string")
        plain = big.join(small, "k").groupBy("name").count()
        salted = skew.salted_join(big, small, "k", n_salts=4) \
            .groupBy("name").count()
        assert {tuple(r) for r in plain.collect()} == \
               {tuple(r) for r in salted.collect()}

    @pytest.mark.parametrize("salt_by", [None, "v"])
    @pytest.mark.parametrize("how", ["inner", "left", "left_semi",
                                     "left_anti"])
    def test_salted_join_rows_equal_plain(self, spark, how, salt_by):
        """Whole rows as multisets: key 2 has no small row and key 3 no
        big row, so a salt copy that leaks or a big row that is lost or
        doubled changes the counts."""
        from collections import Counter
        big = spark.createDataFrame(
            [(1, "a"), (1, "b"), (1, "b"), (2, "c"), (0, "d")],
            "k int, v string")
        small = spark.createDataFrame([(1, "x"), (0, "w"), (3, "y")],
                                      "k int, name string")
        plain = Counter(map(tuple, big.join(small, "k", how).collect()))
        salted = Counter(map(tuple, skew.salted_join(
            big, small, "k", n_salts=4, how=how, salt_by=salt_by).collect()))
        assert salted == plain

    @pytest.mark.parametrize("how", ["right", "rightouter", "right_outer",
                                     "full", "fullouter", "full_outer",
                                     "outer", "RIGHT", "Full_Outer"])
    def test_salted_join_rejects_right_keeping(self, spark, how):
        big = spark.createDataFrame([(1, "a")], "k int, v string")
        small = spark.createDataFrame([(3, "y")], "k int, name string")
        with pytest.raises(ValueError, match="unmatched right rows"):
            skew.salted_join(big, small, "k", n_salts=4, how=how)

    @pytest.mark.parametrize("n_salts", [0, -1])
    def test_salted_join_rejects_few_salts(self, spark, n_salts):
        big = spark.createDataFrame([(1, "a")], "k int, v string")
        small = spark.createDataFrame([(1, "x")], "k int, name string")
        with pytest.raises(ValueError, match="n_salts"):
            skew.salted_join(big, small, "k", n_salts=n_salts, salt_by="v")

    @staticmethod
    def _final_plan(df) -> str:
        """Run `df` itself (a count would plan another query) and return
        the adaptive plan it ran."""
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, plan
        return plan

    def test_salted_join_plans_shuffled_hash(self, spark):
        """The salted small side is the build side of a shuffled hash
        join: no sort on either side, no merge."""
        key = "spark.sql.autoBroadcastJoinThreshold"
        old = spark.conf.get(key)
        spark.conf.set(key, "-1")
        try:
            big = spark.range(0, 2000).select(
                (F.col("id") % 7).alias("k"), "id")
            small = spark.range(7).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
            out = skew.salted_join(big, small, "k", n_salts=4, salt_by="id")
            plan = self._final_plan(out)
        finally:
            spark.conf.set(key, old)
        assert "ShuffledHashJoin" in plan and "BuildRight" in plan, plan
        assert "SortMergeJoin" not in plan, plan
        assert "Sort [" not in plan, plan

    def test_salted_join_keeps_aqe_skew_split(self, spark):
        """AQE's runtime skew split is still the backstop: with its
        thresholds lowered, a 50 %-hot key's join is split."""
        confs = {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
                "1k",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4k",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
        }
        old = {k: spark.conf.get(k, None) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            big = spark.range(0, 20000, 1, 4).select(
                F.when(F.col("id") % 2 == 0, F.lit(0))
                .otherwise(F.col("id") % 97).alias("k"), "id")
            small = spark.range(97).select(
                F.col("id").alias("k"), (F.col("id") + 1).alias("w"))
            out = skew.salted_join(big, small, "k", n_salts=2, salt_by="id")
            plan = self._final_plan(out)
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        assert "ShuffledHashJoin" in plan and "skew=true" in plan, plan


class TestLineage:
    def test_resume_skips_committed(self, spark, tmp_path):
        df = spark.range(0, 100).withColumn("v", F.col("id") * 2)
        out = str(tmp_path / "out")
        log = str(tmp_path / "lineage")

        def xf(part):
            return part.withColumn("v2", F.col("v") + 1)

        s1 = lineage.run_resumable(spark, df, "id", 4, "run1", out, log, xf)
        assert s1["processed"] == 4 and s1["skipped"] == 0
        # second run: everything committed → all skipped
        s2 = lineage.run_resumable(spark, df, "id", 4, "run1", out, log, xf)
        assert s2["processed"] == 0 and s2["skipped"] == 4
        total = spark.read.parquet(out).count()
        assert total == 100
        logdf = spark.read.parquet(log)
        assert logdf.filter(F.col("status") == "committed").count() == 4

    def test_single_pass_input_scans(self, spark, tmp_path):
        """The input is materialized a CONSTANT number of times (2 scans:
        rows_in agg + transform/write), not once per partition — the
        VERDICT r01 scale fix.  An accumulator on the key column counts
        row materializations; with 16 partitions the old per-partition
        loop would read 17x."""
        import pandas as pd
        acc = spark.sparkContext.accumulator(0)

        @F.pandas_udf("long")
        def touch(x: pd.Series) -> pd.Series:
            acc.add(len(x))
            return x

        df = spark.range(0, 1000).withColumn("k", touch(F.col("id")))
        out = str(tmp_path / "out1p")
        log = str(tmp_path / "lineage1p")
        s = lineage.run_resumable(spark, df, "k", 16, "run1p", out, log,
                                  lambda p: p.select("k"))
        assert s["processed"] == 16
        assert spark.read.parquet(out).count() == 1000
        # 2 input scans (+ slack for Spark's occasional partition retries)
        assert acc.value <= 2500, f"input scanned too often: {acc.value}"


class TestS2Cells:
    def test_faces_and_ranges(self):
        import numpy as np

        from solaris_spark.functions import s2cells as S2
        # points straight at each cube face center
        lats = np.array([0.0, 0.0, 90.0, 0.0, 0.0, -90.0])
        lngs = np.array([0.0, 90.0, 0.0, 180.0, -90.0, 0.0])
        face, i, j = S2.cell_ij(lats, lngs, level=10)
        assert list(face) == [0, 1, 2, 3, 4, 5]
        # face centers → st = 0.5 → middle cell (±1 for the float-exact
        # boundary at lng=180 where sin(pi) ~ 1e-16)
        assert np.isin(i, (511, 512)).all() and np.isin(j, (511, 512)).all()

    def test_roundtrip_center_same_cell(self):
        import numpy as np

        from solaris_spark.functions import s2cells as S2
        rng = np.random.default_rng(13)
        lats = rng.uniform(-85, 85, 200)
        lngs = rng.uniform(-179, 179, 200)
        level = 12
        face, i, j = S2.cell_ij(lats, lngs, level)
        for k in range(200):
            clat, clng = S2.cell_center_lat_lng(face[k], i[k], j[k], level)
            f2, i2, j2 = S2.cell_ij(np.array([clat]), np.array([clng]), level)
            assert (f2[0], i2[0], j2[0]) == (face[k], i[k], j[k]), k

    def test_parent_containment(self):
        import numpy as np

        from solaris_spark.functions import s2cells as S2
        rng = np.random.default_rng(14)
        lats = rng.uniform(-85, 85, 100)
        lngs = rng.uniform(-179, 179, 100)
        t12 = S2.cell_token(lats, lngs, 12)
        t11 = S2.cell_token(lats, lngs, 11)
        assert all(S2.parent_token(a) == b for a, b in zip(t12, t11))

    def test_spark_column_and_join_pruning(self, spark):
        """with_s2_cell keys an equi-join: nearby points share a cell,
        far ones don't."""
        import numpy as np

        from solaris_spark.operators import joins
        rows = [(0, 37.7749, -122.4194), (1, 37.7750, -122.4195),  # ~15 m
                (2, 40.7128, -74.0060)]                            # NYC
        df = spark.createDataFrame(rows, "pid int, lat double, lng double")
        out = joins.with_s2_cell(df, level=10).collect()
        cells = {r["pid"]: r["s2_cell"] for r in out}
        assert cells[0] == cells[1] != cells[2]
        assert cells[0].endswith("@10")

    def test_null_coordinates_pair_with_nothing(self, spark):
        """A NULL lat or lng gets a NULL cell, so a self-join on the cell
        pairs only the rows with both coordinates."""
        from solaris_spark.operators import joins
        rows = [(0, 37.7749, -122.4194), (1, 37.7750, -122.4195),
                (2, None, -122.4194), (3, 37.7749, None), (4, None, None),
                (5, None, 0.0), (6, 0.0, None)]
        df = joins.with_s2_cell(
            spark.createDataFrame(rows, "pid int, lat double, lng double"),
            level=10)
        cells = {r["pid"]: r["s2_cell"] for r in df.collect()}
        assert cells[0] == cells[1] is not None
        assert all(cells[p] is None for p in range(2, 7))
        a, b = df.alias("a"), df.alias("b")
        pairs = {(r[0], r[1]) for r in a.join(
            b, F.col("a.s2_cell") == F.col("b.s2_cell")).select(
                "a.pid", "b.pid").collect()}
        assert pairs == {(0, 0), (0, 1), (1, 0), (1, 1)}


class TestLineageChunked:
    def test_commit_every_bounds_restart(self, spark, tmp_path):
        """commit_every=2: commits land per chunk, so a failure after the
        first chunk only redoes the REMAINING partitions on restart (the
        single-pass mode would redo everything)."""
        import pytest as _pytest
        df = spark.range(0, 200).withColumn("v", F.col("id") * 3)
        out = str(tmp_path / "ck_out")
        log = str(tmp_path / "ck_log")

        calls = {"n": 0}

        def failing_xf(part):
            # fail the SECOND chunk's transform (driver-side, deterministic)
            calls["n"] += 1
            if calls["n"] == 2:
                raise RuntimeError("simulated mid-run failure")
            return part.select("id", "v")

        with _pytest.raises(RuntimeError, match="simulated"):
            lineage.run_resumable(spark, df, "id", 6, "ckrun", out, log,
                                  failing_xf, commit_every=2)
        committed = spark.read.parquet(log) \
            .filter(F.col("status") == "committed").count()
        assert committed == 2  # exactly the first chunk survived

        s = lineage.run_resumable(spark, df, "id", 6, "ckrun", out, log,
                                  lambda p: p.select("id", "v"),
                                  commit_every=2)
        assert s["skipped"] == 2 and s["processed"] == 4
        assert spark.read.parquet(out).count() == 200
        assert spark.read.parquet(log) \
            .filter(F.col("status") == "committed").count() == 6
