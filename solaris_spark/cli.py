"""spark-submit-able CLI entry points mirroring the reference console
scripts (setup.py:116-124): make_masks, spacenet_eval, make_graphs,
mask_to_polygons, geotransform_footprints.

Each main() accepts an optional live SparkSession (tests reuse one; the
scripts/ wrappers create one), parses the same flags as the reference
bin/*.py, and drives the corresponding Spark operators.  Single-file
outputs (a mask TIFF, a GeoJSON) are driver-side by nature — the
distributed form is the operator output DataFrame; these wrappers exist
for drop-in parity with the reference's UX.
"""

from __future__ import annotations

import argparse
import csv
import json

import numpy as np

from .functions import geom as G
from .functions.tiffio import read_tiff, write_tiff


def _get_spark(spark=None):
    if spark is not None:
        return spark, False
    from .session import get_spark
    return get_spark(app_name="solaris-spark-cli"), True


def _load_label_rows(source_file: str, geom_col: str):
    """Label WKTs from a CSV column or a GeoJSON file."""
    if source_file.lower().endswith(".csv"):
        with open(source_file) as fh:
            return [row[geom_col] for row in csv.DictReader(fh)]
    with open(source_file) as fh:
        gj = json.load(fh)
    wkts = []
    for f in gj["features"]:
        g = f["geometry"]
        if g["type"] == "Polygon":
            rings = [np.asarray(r, dtype=np.float64)[:, :2]
                     for r in g["coordinates"]]
            wkts.append(G.wkt_dump("POLYGON", rings))
        elif g["type"] == "MultiPolygon":
            polys = [[np.asarray(r, dtype=np.float64)[:, :2] for r in poly]
                     for poly in g["coordinates"]]
            wkts.append(G.wkt_dump("MULTIPOLYGON", polys))
    return wkts


def make_masks_main(argv=None, spark=None) -> str:
    """bin/make_masks.py parity: vector labels + reference image → training
    mask TIFF with footprint/edge/contact channels.

    `--batch --argument_csv FILE` mirrors the reference's batch mode
    (bin/make_masks.py --batch/-a: one row per job with source_file,
    reference_image, output_path[, geometry_column] columns) — but where
    the reference fans out a multiprocessing Pool, ALL batch rows here run
    as ONE distributed Spark job (one image_masks group per row)."""
    p = argparse.ArgumentParser(description="Create training pixel masks")
    p.add_argument("--source_file", "-s")
    p.add_argument("--reference_image", "-r")
    p.add_argument("--output_path", "-o")
    p.add_argument("--geometry_column", "-g", default="geometry")
    p.add_argument("--transform", "-t", action="store_true", default=False)
    p.add_argument("--footprint", "-f", action="store_true", default=False)
    p.add_argument("--edge", "-e", action="store_true", default=False)
    p.add_argument("--edge_width", "-ew", type=int, default=3)
    p.add_argument("--edge_type", "-et", default="inner")
    p.add_argument("--contact", "-c", action="store_true", default=False)
    p.add_argument("--contact_spacing", "-cs", type=int, default=10)
    p.add_argument("--batch", "-b", action="store_true", default=False)
    p.add_argument("--argument_csv", "-a")
    a = p.parse_args(argv)

    if a.batch:
        if not a.argument_csv:
            raise SystemExit("--batch requires --argument_csv")
        with open(a.argument_csv) as fh:
            jobs = list(csv.DictReader(fh))
    else:
        if not (a.source_file and a.reference_image and a.output_path):
            raise SystemExit("-s, -r and -o are required (or use --batch)")
        jobs = [dict(source_file=a.source_file,
                     reference_image=a.reference_image,
                     output_path=a.output_path,
                     geometry_column=a.geometry_column)]

    channels = []
    if a.footprint:
        channels.append("footprint")
    if a.edge:
        channels.append("boundary")
    if a.contact:
        channels.append("contact")
    if not channels:
        channels = ["footprint"]

    spark, own = _get_spark(spark)
    try:
        from .operators import masks as maskops
        lab_rows, geo_rows, outs = [], [], {}
        for k, job in enumerate(jobs):
            img_id = f"img{k}"
            outs[img_id] = job["output_path"]
            ref = read_tiff(job["reference_image"])
            h, w = ref.array.shape[1], ref.array.shape[2]
            t = ref.transform
            geo_rows.append((img_id, w, h, float(t[0]), float(t[1]),
                             float(t[2]), float(t[3]), float(t[4]),
                             float(t[5])))
            gcol = job.get("geometry_column") or a.geometry_column
            for i, wk in enumerate(_load_label_rows(job["source_file"], gcol)):
                lab_rows.append((img_id, i, wk))
        lab = spark.createDataFrame(
            lab_rows, "image_id string, label_id int, wkt_pix string")
        geo = spark.createDataFrame(
            geo_rows,
            "image_id string, w int, h int, a double, b double, c double, "
            "d double, e double, f double")
        mks = maskops.image_masks(
            lab, geo, channels=channels, do_transform=a.transform,
            boundary_width=a.edge_width, boundary_type=a.edge_type,
            contact_spacing=a.contact_spacing).collect()
        for mk in mks:
            arr = np.frombuffer(mk["mask"], dtype=np.uint8).reshape(
                mk["h"], mk["w"], mk["nchan"])
            out = (arr[:, :, 0] if mk["nchan"] == 1
                   else np.moveaxis(arr, -1, 0))
            write_tiff(outs[mk["image_id"]], out)
        return jobs[-1]["output_path"]
    finally:
        if own:
            spark.stop()


def spacenet_eval_main(argv=None, spark=None) -> str:
    """bin/spacenet_eval.py parity: proposal + truth CSVs → per-AOI summary
    CSV and per-image full CSV."""
    p = argparse.ArgumentParser(description="Evaluate SpaceNet CSVs")
    p.add_argument("--proposal_csv", "-p", required=True)
    p.add_argument("--truth_csv", "-t", required=True)
    p.add_argument("--challenge", "-c", default="off-nadir",
                   choices=["off-nadir", "spacenet-buildings2"])
    p.add_argument("--output_file", "-o", default="Off-Nadir")
    a = p.parse_args(argv)

    spark, own = _get_spark(spark)
    try:
        from .operators import challenges
        chal = ("spacenet_off_nadir" if a.challenge == "off-nadir"
                else "spacenet_2")
        per_bin, per_image = challenges.spacenet_buildings_eval(
            spark, a.proposal_csv, a.truth_csv, miniou=0.5, min_area=20,
            challenge=chal)
        base = a.output_file[:-4] if a.output_file.endswith(".csv") \
            else a.output_file
        pb = per_bin.orderBy("AOI").toPandas()
        pi = (per_image.withColumnRenamed("image_id", "imageID")
              .orderBy("imageID").toPandas())
        pb.to_csv(base + ".csv", index=False)
        pi.to_csv(base + "_full.csv", index=False)
        return base + ".csv"
    finally:
        if own:
            spark.stop()


def make_graphs_main(argv=None, spark=None) -> str:
    """bin/make_graphs.py parity: road GeoJSON → graph.  Writes
    `{base}_nodes.geojson` + `{base}_edges.geojson`; with a `.pkl` output
    path also pickles a networkx graph (import-gated) like the reference."""
    p = argparse.ArgumentParser(description="Road vectors to graph")
    p.add_argument("--source_file", "-s", required=True)
    p.add_argument("--output_path", "-o", required=True)
    a = p.parse_args(argv)

    spark, own = _get_spark(spark)
    try:
        from .operators import graph as graphops
        with open(a.source_file) as fh:
            gj = json.load(fh)
        rows = []
        for i, f in enumerate(gj["features"]):
            g = f["geometry"]
            if g["type"] == "LineString":
                coords = [np.asarray(g["coordinates"], dtype=np.float64)[:, :2]]
                rows.append((i, G.wkt_dump("LINESTRING", coords)))
            elif g["type"] == "MultiLineString":
                parts = [np.asarray(c, dtype=np.float64)[:, :2]
                         for c in g["coordinates"]]
                rows.append((i, G.wkt_dump("MULTILINESTRING", parts)))
        roads = spark.createDataFrame(rows, "road_id long, wkt string")
        nodes, edges = graphops.build_graph(roads)
        graphops.graph_to_geojson(nodes, edges, a.output_path)
        if a.output_path.endswith(".pkl"):
            import pickle
            with open(a.output_path, "wb") as fh:
                pickle.dump(graphops.to_networkx(nodes, edges), fh)
        return a.output_path
    finally:
        if own:
            spark.stop()


def mask_to_polygons_main(argv=None, spark=None) -> str:
    """Mask raster → polygon GeoJSON (the reference registers this console
    script but ships an EMPTY bin/mask_to_polygons.py — the operator
    surface is vector/mask.py mask_to_poly_geojson:1068-1140)."""
    p = argparse.ArgumentParser(description="Mask raster to polygons")
    p.add_argument("--source_file", "-s", required=True)
    p.add_argument("--output_path", "-o", required=True)
    p.add_argument("--min_area", "-m", type=float, default=40.0)
    p.add_argument("--bg_threshold", "-t", type=float, default=0.0)
    p.add_argument("--simplify", action="store_true", default=False)
    p.add_argument("--tolerance", type=float, default=0.5)
    a = p.parse_args(argv)

    spark, own = _get_spark(spark)
    try:
        from .operators import masks as maskops
        im = read_tiff(a.source_file)
        band = im.array[0]
        binm = (band > a.bg_threshold).astype(np.uint8)
        h, w = binm.shape
        df = spark.createDataFrame(
            [("img", bytearray(binm.tobytes()), h, w, 1)],
            "image_id string, mask binary, h int, w int, nchan int")
        polys = maskops.masks_to_polygons(
            df, min_area=a.min_area,
            simplify_tol=(a.tolerance if a.simplify else None)).collect()
        feats = [{"type": "Feature",
                  "properties": {"value": r["value"]},
                  "geometry": {"type": "Polygon",
                               "coordinates": [
                                   rr.tolist() for rr in
                                   G.wkt_parse(r["wkt"])[1]]}}
                 for r in polys]
        with open(a.output_path, "w") as fh:
            json.dump({"type": "FeatureCollection", "features": feats}, fh)
        return a.output_path
    finally:
        if own:
            spark.stop()


def geotransform_footprints_main(argv=None, spark=None) -> str:
    """bin/geotransform_footprints.py parity: footprints ↔ pixel/geo frames
    via the reference image's affine (-p → pixels, -g → geo), optional
    decimal rounding.

    `--batch --argument_csv FILE` (reference -b/-a: one row per job with
    source_file, reference_image, output_path columns) fans the jobs out
    over executors via blobs.map_blobs — one task per geojson instead of the
    reference's multiprocessing Pool."""
    p = argparse.ArgumentParser(description="Interconvert footprint frames")
    p.add_argument("--source_file", "-s")
    p.add_argument("--reference_image", "-r")
    p.add_argument("--output_path", "-o")
    p.add_argument("--to_pixel", "-p", action="store_true", default=False)
    p.add_argument("--to_geo", "-g", action="store_true", default=False)
    p.add_argument("--decimal_precision", "-d", type=int, default=None)
    p.add_argument("--batch", "-b", action="store_true", default=False)
    p.add_argument("--argument_csv", "-a")
    a = p.parse_args(argv)
    if a.to_pixel == a.to_geo:
        raise SystemExit("specify exactly one of --to_pixel / --to_geo")

    def run_one(source_file, reference_image, output_path):
        ref = read_tiff(reference_image)
        t = tuple(float(v) for v in ref.transform)
        aff = G.affine_invert(t) if a.to_pixel else t

        def conv(coords):
            arr = np.asarray(coords, dtype=np.float64)[:, :2]
            out = G.affine_apply(arr, aff)
            if a.decimal_precision is not None:
                out = np.round(out, a.decimal_precision)
            return out.tolist()

        with open(source_file) as fh:
            gj = json.load(fh)
        for f in gj["features"]:
            g = f["geometry"]
            if g["type"] == "Polygon":
                g["coordinates"] = [conv(r) for r in g["coordinates"]]
            elif g["type"] == "MultiPolygon":
                g["coordinates"] = [[conv(r) for r in poly]
                                    for poly in g["coordinates"]]
            elif g["type"] in ("LineString",):
                g["coordinates"] = conv(g["coordinates"])
        with open(output_path, "w") as fh:
            json.dump(gj, fh)
        return len(gj["features"])

    if not a.batch:
        if not (a.source_file and a.reference_image and a.output_path):
            raise SystemExit("-s, -r and -o are required (or use --batch)")
        run_one(a.source_file, a.reference_image, a.output_path)
        return a.output_path

    if not a.argument_csv:
        raise SystemExit("--batch requires --argument_csv")
    with open(a.argument_csv) as fh:
        jobs = list(csv.DictReader(fh))
    spark, own = _get_spark(spark)
    try:
        import pyspark.sql.types as T

        from .operators.blobs import map_blobs

        def rows_of(r):
            yield (r.output_path,
                   run_one(r.source_file, r.reference_image, r.output_path))

        df = spark.createDataFrame(
            [(j["source_file"], j["reference_image"], j["output_path"])
             for j in jobs],
            "source_file string, reference_image string, output_path string")
        map_blobs(df.repartition(min(len(jobs), 64)), T.StructType([
            T.StructField("output_path", T.StringType()),
            T.StructField("n_features", T.LongType())]), rows_of).collect()
        return jobs[-1]["output_path"]
    finally:
        if own:
            spark.stop()
