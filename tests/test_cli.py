"""CLI wrapper tests — mirror /root/reference/tests/test_cli/test_cli.py
(golden-pinned where the reference pins goldens) plus the SN2 results-CSV
parity from tests/test_eval/spacenet_buildings2_dataset_test.py."""

import json
import os
import pickle

import numpy as np
import pandas as pd
import pytest

from solaris_spark import cli
from solaris_spark.functions.tiffio import read_tiff

DATA = "/root/reference/solaris/data"
EXPECTED = os.path.join(DATA, "cli_test", "expected")


class TestMakeMasks:
    @pytest.mark.parametrize("fname,extra", [
        ("sample_fp_mask.tif", ["-f"]),
        ("sample_b_inner_mask.tif", ["-e"]),
        ("sample_b_outer10_mask.tif", ["-e", "-et", "outer", "-ew", "10"]),
        ("sample_c_mask.tif", ["-c", "-cs", "10"]),
        ("sample_fbc_mask.tif",
         ["-f", "-e", "-c", "-et", "outer", "-ew", "5", "-cs", "15"]),
    ])
    @pytest.mark.needs_reference("sample_geotiff.tif")
    def test_golden_parity(self, spark, tmp_path, fname, extra):
        """Reference CLI goldens, pixel-exact (test_cli.py:60-86)."""
        out = str(tmp_path / fname)
        cli.make_masks_main(
            ["-s", os.path.join(DATA, "sample.csv"),
             "-r", os.path.join(DATA, "sample_geotiff.tif"),
             "-g", "PolygonWKT_Pix", "-o", out] + extra, spark=spark)
        got = read_tiff(out).array
        exp = read_tiff(os.path.join(EXPECTED, fname)).array
        assert np.array_equal(np.squeeze(got), np.squeeze(exp)), fname


class TestSpacenetEval:
    @pytest.mark.needs_reference("SN2_sample_truth.csv")
    def test_sn2_results_csv_parity(self, spark, tmp_path):
        """Summary CSV matches SN2_test_results.csv
        (spacenet_buildings2_dataset_test.py:11-33)."""
        base = str(tmp_path / "results")
        cli.spacenet_eval_main(
            ["-p", os.path.join(DATA, "SN2_sample_preds.csv"),
             "-t", os.path.join(DATA, "SN2_sample_truth.csv"),
             "-c", "spacenet-buildings2", "-o", base], spark=spark)
        got = pd.read_csv(base + ".csv").sort_values("AOI").reset_index(drop=True)
        exp = pd.read_csv(os.path.join(DATA, "SN2_test_results.csv"))
        for col in ["TruePos", "FalsePos", "FalseNeg"]:
            assert list(got[col]) == list(exp[col]), col
        for col in ["F1Score", "Precision", "Recall"]:
            assert np.allclose(got[col], exp[col], atol=1e-12), col
        full = pd.read_csv(base + "_full.csv")
        exp_full = pd.read_csv(os.path.join(DATA, "SN2_test_results_full.csv"))
        assert len(full) == len(exp_full)


class TestMakeGraphs:
    @pytest.mark.needs_reference("sample_roads.geojson")
    def test_isomorphic_to_reference_pickle(self, spark, tmp_path):
        """nx.is_isomorphic vs the reference golden (test_cli.py:36-59)."""
        nx = pytest.importorskip("networkx")
        out = str(tmp_path / "sample_graph.pkl")
        cli.make_graphs_main(
            ["-s", os.path.join(DATA, "sample_roads.geojson"), "-o", out],
            spark=spark)
        with open(os.path.join(EXPECTED, "sample_graph.pkl"), "rb") as f:
            truth = pickle.load(f)
        with open(out, "rb") as f:
            got = pickle.load(f)
        # the reference golden is a MultiDiGraph; the engine's graph is
        # undirected simple by design — compare on the undirected simple form
        assert nx.is_isomorphic(nx.Graph(truth.to_undirected()), got)
        # geojson sinks exist and parse
        nodes = json.load(open(str(tmp_path / "sample_graph_nodes.geojson")))
        edges = json.load(open(str(tmp_path / "sample_graph_edges.geojson")))
        assert len(nodes["features"]) == got.number_of_nodes()
        assert len(edges["features"]) >= got.number_of_edges()


class TestGeotransformFootprints:
    @pytest.mark.needs_reference("sample_geotiff.tif")
    def test_to_pixel_golden(self, spark, tmp_path):
        """Pixel-frame footprints match gj_to_px_result.geojson coords
        (test_cli.py:13-34; numeric compare, not text diff)."""
        out = str(tmp_path / "to_px_test.geojson")
        cli.geotransform_footprints_main(
            ["-s", os.path.join(DATA, "geotiff_labels.geojson"),
             "-r", os.path.join(DATA, "sample_geotiff.tif"),
             "-o", out, "-p", "-d", "0"])
        got = json.load(open(out))
        exp = json.load(open(os.path.join(EXPECTED, "gj_to_px_result.geojson")))
        assert len(got["features"]) == len(exp["features"])

        def ring_key(feat):
            # order-free signature: the expected file is reordered by the
            # reference's spatial index
            c = np.asarray(feat["geometry"]["coordinates"][0],
                           dtype=np.float64)[:, :2]
            return tuple(sorted(map(tuple, c)))

        got_keys = sorted(ring_key(f) for f in got["features"])
        exp_keys = sorted(ring_key(f) for f in exp["features"])
        for kg, ke in zip(got_keys, exp_keys):
            assert len(kg) == len(ke)
            assert np.allclose(np.asarray(kg), np.asarray(ke), atol=1e-6)


class TestMaskToPolygons:
    @pytest.mark.needs_reference("sample_fp_mask.tif")
    def test_roundtrip_mask(self, spark, tmp_path):
        """Footprint mask → polygons covers the mask's set pixels (the
        reference registers this console script with an EMPTY module —
        behavior pinned against our polygonize kernel instead)."""
        out = str(tmp_path / "polys.geojson")
        cli.mask_to_polygons_main(
            ["-s", os.path.join(DATA, "sample_fp_mask.tif"),
             "-o", out, "-m", "40"], spark=spark)
        gj = json.load(open(out))
        assert len(gj["features"]) > 10
        # total polygon area ~ set-pixel count of the source mask
        mask = read_tiff(os.path.join(DATA, "sample_fp_mask.tif")).array[0]
        from solaris_spark.functions import geom as G
        area = G.prepare_polygons([G.wkt_dump(
            "POLYGON", [np.asarray(r, dtype=np.float64)
                        for r in f["geometry"]["coordinates"]])
            for f in gj["features"]]).area.sum()
        set_px = int((mask > 0).sum())
        assert abs(area - set_px) / set_px < 0.05


class TestMakeMasksBatch:
    @pytest.mark.needs_reference("sample_geotiff.tif")
    def test_batch_equals_single_runs(self, spark, tmp_path):
        """--batch --argument_csv runs every row in ONE Spark job and each
        output equals the corresponding single-run golden (the reference's
        multiprocessing batch mode, bin/make_masks.py -b/-a)."""
        import csv as _csv
        args_csv = str(tmp_path / "args.csv")
        out1 = str(tmp_path / "b_fp.tif")
        out2 = str(tmp_path / "b_fp2.tif")
        with open(args_csv, "w", newline="") as fh:
            w = _csv.writer(fh)
            w.writerow(["source_file", "reference_image", "output_path",
                        "geometry_column"])
            for out in (out1, out2):
                w.writerow([os.path.join(DATA, "sample.csv"),
                            os.path.join(DATA, "sample_geotiff.tif"),
                            out, "PolygonWKT_Pix"])
        cli.make_masks_main(["-b", "-a", args_csv, "-f"], spark=spark)
        exp = read_tiff(os.path.join(EXPECTED, "sample_fp_mask.tif")).array
        for out in (out1, out2):
            got = read_tiff(out).array
            assert np.array_equal(np.squeeze(got), np.squeeze(exp))


class TestGeotransformBatch:
    @pytest.mark.needs_reference("sample_geotiff.tif")
    def test_batch_outputs_match_single(self, spark, tmp_path):
        import csv as _csv
        args_csv = str(tmp_path / "gargs.csv")
        b1 = str(tmp_path / "g1.geojson")
        b2 = str(tmp_path / "g2.geojson")
        with open(args_csv, "w", newline="") as fh:
            w = _csv.writer(fh)
            w.writerow(["source_file", "reference_image", "output_path"])
            for out in (b1, b2):
                w.writerow([os.path.join(DATA, "geotiff_labels.geojson"),
                            os.path.join(DATA, "sample_geotiff.tif"), out])
        cli.geotransform_footprints_main(
            ["-b", "-a", args_csv, "-p", "-d", "0"], spark=spark)
        single = str(tmp_path / "gs.geojson")
        cli.geotransform_footprints_main(
            ["-s", os.path.join(DATA, "geotiff_labels.geojson"),
             "-r", os.path.join(DATA, "sample_geotiff.tif"),
             "-o", single, "-p", "-d", "0"])
        exp = json.load(open(single))
        for out in (b1, b2):
            got = json.load(open(out))
            assert got == exp


class TestSpacenetEvalOffNadir:
    @pytest.mark.needs_reference("sample_truth_competition.csv")
    def test_competition_golden(self, spark, tmp_path):
        """Off-nadir branch vs the reference CLI golden
        (off_nadir_dataset_test.py:26-45: sample_*_competition.csv →
        competition_test_results.csv, one perfect-score nadir bin)."""
        base = str(tmp_path / "onad")
        cli.spacenet_eval_main(
            ["-p", os.path.join(DATA, "sample_preds_competition.csv"),
             "-t", os.path.join(DATA, "sample_truth_competition.csv"),
             "-c", "off-nadir", "-o", base], spark=spark)
        got = pd.read_csv(base + ".csv")
        exp = pd.read_csv(os.path.join(DATA, "competition_test_results.csv"))
        assert len(got) == len(exp)
        for col in ["TruePos", "FalsePos", "FalseNeg"]:
            assert list(got[col]) == list(exp[col]), col
        for col in ["F1Score", "Precision", "Recall"]:
            assert np.allclose(got[col], exp[col], atol=1e-12), col


class TestGeotransformBatchSynth:
    def test_batch_outputs_match_single_runs(self, spark, tmp_path):
        """--batch over two jobs (two sources, two reference images)
        writes exactly what the single runs write."""
        import csv as _csv

        from solaris_spark.functions.tiffio import write_tiff
        jobs = []
        for k in range(2):
            t = (0.5, 0.0, 733600.0 + 100 * k, 0.0, -0.5, 3725200.0)
            ref_im = str(tmp_path / f"ref{k}.tif")
            write_tiff(ref_im, np.zeros((1, 8, 8), np.uint8), transform=t)
            ring = [[t[2] + x, t[5] - y] for x, y in
                    ((1.25, 1), (4.5, 1), (4.5, 3.75), (1.25, 1))]
            feats = [{"type": "Polygon", "coordinates": [ring]},
                     {"type": "MultiPolygon", "coordinates": [[ring]]},
                     {"type": "LineString", "coordinates": ring[:2]}]
            src = str(tmp_path / f"src{k}.geojson")
            with open(src, "w") as fh:
                json.dump({"type": "FeatureCollection", "features": [
                    {"type": "Feature", "properties": {"k": k},
                     "geometry": g} for g in feats]}, fh)
            jobs.append((src, ref_im, str(tmp_path / f"batch{k}.geojson")))
        args_csv = str(tmp_path / "args.csv")
        with open(args_csv, "w", newline="") as fh:
            w = _csv.writer(fh)
            w.writerow(["source_file", "reference_image", "output_path"])
            w.writerows(jobs)
        for flags in (["-p", "-d", "1"], ["-g"]):
            cli.geotransform_footprints_main(["-b", "-a", args_csv, *flags],
                                             spark=spark)
            for k, (src, ref_im, out) in enumerate(jobs):
                single = str(tmp_path / f"single{k}.geojson")
                cli.geotransform_footprints_main(
                    ["-s", src, "-r", ref_im, "-o", single, *flags])
                with open(out) as fa, open(single) as fb:
                    got, exp = json.load(fa), json.load(fb)
                assert got == exp
                assert got["features"][0]["properties"] == {"k": k}
