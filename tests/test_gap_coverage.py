"""Direct tests for operators previously exercised only indirectly:
bbox_candidate_join (brute-force parity + report-once dedup), the
catalog layout writers (bucketed images, spatially-prefixed tiles,
view registration), `with_prf`'s zero conventions, the networkx round trip
and `rescale_arr`."""

import numpy as np
import pytest

from solaris_spark.operators import joins
from solaris_spark.sources import catalog


class TestBboxCandidateJoin:
    def _boxes(self, rng, n, ids):
        rows = []
        for i in range(n):
            x0, y0 = rng.uniform(0, 900, 2)
            w, h = rng.uniform(5, 220, 2)
            rows.append((ids + str(i), float(x0), float(y0),
                         float(x0 + w), float(y0 + h)))
        return rows

    def test_vs_bruteforce_each_pair_once(self, spark):
        """Every overlapping pair appears EXACTLY once (the report-once
        cell dedup), no non-overlapping pair appears, across cell sizes
        smaller and larger than typical box extents."""
        rng = np.random.default_rng(11)
        lrows = self._boxes(rng, 60, "l")
        rrows = self._boxes(rng, 80, "r")
        l = spark.createDataFrame(
            lrows, "lid string, xmin double, ymin double, xmax double, "
                   "ymax double")
        r = spark.createDataFrame(
            rrows, "rid string, xmin double, ymin double, xmax double, "
                   "ymax double")
        want = {(a, b)
                for a, ax0, ay0, ax1, ay1 in lrows
                for b, bx0, by0, bx1, by1 in rrows
                if ax0 <= bx1 and ax1 >= bx0 and ay0 <= by1 and ay1 >= by0}
        for cell in (64.0, 300.0):
            j = joins.bbox_candidate_join(l, r, cell_size=cell)
            got = [(row["lid"], row["rid"])
                   for row in j.select("l.lid", "r.rid").collect()]
            assert len(got) == len(set(got)), f"dup pairs at cell={cell}"
            assert set(got) == want, f"cell={cell}"
        assert len(want) > 50

    def test_broadcast_variant_same_result(self, spark):
        rng = np.random.default_rng(13)
        lrows = self._boxes(rng, 40, "l")
        rrows = self._boxes(rng, 10, "r")
        l = spark.createDataFrame(
            lrows, "lid string, xmin double, ymin double, xmax double, "
                   "ymax double")
        r = spark.createDataFrame(
            rrows, "rid string, xmin double, ymin double, xmax double, "
                   "ymax double")
        plain = {(row["lid"], row["rid"]) for row in
                 joins.bbox_candidate_join(l, r, 128.0)
                 .select("l.lid", "r.rid").collect()}
        bcast = {(row["lid"], row["rid"]) for row in
                 joins.bbox_candidate_join(l, r, 128.0, broadcast_right=True)
                 .select("l.lid", "r.rid").collect()}
        assert plain == bcast


class TestCatalogLayout:
    def test_images_roundtrip_and_bucket_pruning(self, spark, tmp_path):
        rows = [(f"img{i:03d}", bytes([i % 256] * 8), 4, 2, "raw-u8")
                for i in range(50)]
        df = spark.createDataFrame(
            rows, "image_id string, bytes binary, w int, h int, fmt string")
        base = str(tmp_path / "images")
        catalog.write_images(df, base, buckets=8)
        back = catalog.read_images(spark, base)
        assert back.columns == ["image_id", "bytes", "w", "h", "fmt"]
        got = {r["image_id"]: bytes(r["bytes"]) for r in back.collect()}
        assert got == {a: b for a, b, *_ in rows}
        # physical layout: bucket directories exist for pruning
        import os
        dirs = [d for d in os.listdir(base) if d.startswith("bucket=")]
        assert 1 < len(dirs) <= 8

    def test_tiles_partitioning_and_views(self, spark, tmp_path):
        tiles = spark.createDataFrame(
            [(f"t{i}", i % 7, i // 7, float(i)) for i in range(30)],
            "tile_id string, tx int, ty int, score double")
        base = str(tmp_path)
        catalog.write_tiles(tiles, str(tmp_path / "tiles"))
        catalog.register_views(spark, base, tables=["tiles"])
        n = spark.sql("SELECT count(*) AS n FROM tiles").first()["n"]
        assert n == 30
        # spatial-prefix partition column exists in the files for pruning
        cols = spark.read.parquet(str(tmp_path / "tiles")).columns
        assert "cell_prefix" in cols


class TestEvalHelpers:
    def test_with_prf_zero_conventions(self, spark):
        """Reference convention (base.py:184-195): undefined P/R/F1 → 0."""
        from solaris_spark.operators.evalops import with_prf
        df = spark.createDataFrame(
            [("a", 8, 2, 4), ("b", 0, 0, 5), ("c", 0, 3, 0),
             ("d", 0, 0, 0)],
            "k string, TruePos long, FalsePos long, FalseNeg long")
        got = {r["k"]: r for r in with_prf(df).collect()}
        assert got["a"]["Precision"] == pytest.approx(0.8)
        assert got["a"]["Recall"] == pytest.approx(8 / 12)
        assert got["a"]["F1Score"] == pytest.approx(
            2 * 0.8 * (8 / 12) / (0.8 + 8 / 12))
        for k in ("b", "c", "d"):
            assert got[k]["Precision"] == 0.0 or k == "b"
            assert got[k]["F1Score"] == 0.0
        assert got["b"]["Recall"] == 0.0


class TestGraphInterop:
    def test_to_networkx_roundtrip(self, spark):
        import math

        from solaris_spark.operators import graph
        roads = spark.createDataFrame(
            [(1, "LINESTRING (0 0, 3 4)", "primary"),
             (2, "LINESTRING (3 4, 6 0)", "primary")],
            "road_id long, wkt string, type string")
        nodes, edges = graph.build_graph(roads, type_col="type")
        g = graph.to_networkx(nodes, edges)
        assert g.number_of_nodes() == 3
        assert g.number_of_edges() == 2
        for _u, _v, d in g.edges(data=True):
            assert d["weight"] == pytest.approx(5.0)
        xs = {round(d["x"], 6) for _n, d in g.nodes(data=True)}
        assert xs == {0.0, 3.0, 6.0}


class TestImopsHelpers:
    def test_rescale_arr_auto_and_explicit(self):
        from solaris_spark.functions.imops import rescale_arr
        a = np.stack([np.linspace(10, 20, 12).reshape(3, 4),
                      np.linspace(0, 100, 12).reshape(3, 4)], axis=2)
        out = rescale_arr(a, "uint8")
        assert out.min() == 0 and out.max() == 255
        exp = rescale_arr(a, "uint8", rescale_min=[10, 0],
                          rescale_max=[20, 100])
        assert np.array_equal(out, exp)

    def test_scale_for_model_modes(self):
        from solaris_spark.functions.imops import scale_for_model
        a = np.array([[0.0, 2.0], [4.0, 8.0]])
        assert scale_for_model(a) is a
        assert np.allclose(scale_for_model(a, "normalized"), a / 8.0)
        z = scale_for_model(a, "zscored")
        assert abs(z.mean()) < 1e-12 and abs(z.std() - 1) < 1e-12

    def test_reorder_axes_heuristic(self):
        from solaris_spark.functions.imops import reorder_axes
        chw = np.zeros((3, 64, 64))
        hwc = np.zeros((64, 64, 3))
        assert reorder_axes(chw, "tensorflow").shape == (64, 64, 3)
        assert reorder_axes(hwc, "tensorflow").shape == (64, 64, 3)
        assert reorder_axes(hwc, "torch").shape == (3, 64, 64)
        assert reorder_axes(chw, "torch").shape == (3, 64, 64)
