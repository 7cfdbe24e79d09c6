"""Spark-level mask operator parity vs reference goldens."""

import csv
import json

import numpy as np
import pytest

from solaris_spark.functions import geom as G
from solaris_spark.functions import raster as R
from solaris_spark.functions.tiffio import read_tiff
from solaris_spark.operators import masks
from solaris_spark.sources import synth
from tests import oracles as O

DATA = "/root/reference/solaris/data"


@pytest.fixture(scope="module")
def fixture_ig(spark):
    images = synth.fixture_image_df(spark)
    geo = synth.image_geo_table(spark, images)
    from solaris_spark.operators import tiling
    return tiling.with_geo(images, geo)


@pytest.fixture(scope="module")
def sample_labels(spark):
    rows = list(csv.DictReader(open(f"{DATA}/sample.csv")))
    return spark.createDataFrame(
        [(synth.FIXTURE_IMAGE_ID, i, r["PolygonWKT_Pix"])
         for i, r in enumerate(rows)],
        "image_id string, label_id int, wkt_pix string")


def unpack(row):
    return np.frombuffer(row["mask"], dtype=np.uint8).reshape(
        row["h"], row["w"], row["nchan"])


class TestImageMasks:
    @pytest.mark.needs_reference("sample_geotiff.tif")
    def test_fbc_three_channel(self, spark, fixture_ig, sample_labels):
        """footprint+boundary(outer,5)+contact(15) == sample_fbc_from_df2px.tif."""
        out = masks.image_masks(
            sample_labels, fixture_ig,
            channels=["footprint", "boundary", "contact"],
            boundary_type="outer", boundary_width=5,
            contact_spacing=15).collect()
        assert len(out) == 1
        arr = unpack(out[0])
        truth = read_tiff(f"{DATA}/sample_fbc_from_df2px.tif").array
        assert np.array_equal(np.moveaxis(arr, -1, 0), truth)

    @pytest.mark.needs_reference("sample_geotiff.tif")
    def test_geo_transform_footprint(self, spark, fixture_ig):
        """geo-coord labels + do_transform == sample_fp_mask_from_geojson.tif."""
        gj = json.load(open(f"{DATA}/geotiff_labels.geojson"))
        rows = []
        for i, f in enumerate(gj["features"]):
            rings = [np.asarray(r, dtype=np.float64)[:, :2]
                     for r in f["geometry"]["coordinates"]]
            rows.append((synth.FIXTURE_IMAGE_ID, i, G.wkt_dump("POLYGON", rings)))
        lab = spark.createDataFrame(
            rows, "image_id string, label_id int, wkt_pix string")
        out = masks.image_masks(lab, fixture_ig, channels=["footprint"],
                                do_transform=True).collect()
        arr = unpack(out[0])[:, :, 0]
        truth = read_tiff(f"{DATA}/sample_fp_mask_from_geojson.tif").array[0]
        assert np.array_equal(arr, truth)


def _road_oracle(wkts, t, epsg, shape, width):
    """road_masks rebuilt one line at a time: each line's sequential
    oracle_line_curve (in metres in the UTM zone of all vertices' mean
    for EPSG 4326, else in pixels after the affine) burnt on its own by
    the oracle's rasterize_rings(winding=True), the masks OR-ed."""
    lines = []
    for w in wkts:
        gtype, parts = G.wkt_parse(w)
        lines.extend(parts[:1] if gtype == "LINESTRING" else parts)
    inv = G.affine_invert(t)
    allc = np.vstack(lines)
    zone = G.utm_zone_epsg(float(allc[:, 0].mean()), float(allc[:, 1].mean()))
    mask = np.zeros(shape, dtype=np.uint8)
    for ln in lines:
        if epsg == 4326:
            E, N = G.wgs84_to_utm(ln[:, 0], ln[:, 1], zone)
            c = O.oracle_line_curve(np.stack([E, N], axis=1), width / 2.0)
            lon, lat = G.utm_to_wgs84(c[:, 0], c[:, 1], zone)
            curve = G.affine_apply(np.stack([lon, lat], axis=1), inv)
        else:
            curve = O.oracle_line_curve(G.affine_apply(ln, inv),
                                        width / 2.0)
        one = O.rasterize_rings([curve], shape, value=255, winding=True)
        np.maximum(mask, one, out=mask)
    return mask


class TestRoadMasks:
    @pytest.mark.needs_reference("sample_roads_for_masking.geojson")
    def test_golden_road_mask(self, spark):
        """width 4 m over lon/lat roads == sample_road_raster_mask.tif."""
        gj = json.load(open(f"{DATA}/sample_roads_for_masking.geojson"))
        im = read_tiff(f"{DATA}/road_mask_input.tif")
        rows = []
        for f in gj["features"]:
            coords = np.asarray(f["geometry"]["coordinates"], float)[:, :2]
            rows.append(("road_img", G.wkt_dump("LINESTRING", [coords])))
        roads = spark.createDataFrame(rows, "image_id string, wkt string")
        a, b, c, d, e, f_ = im.transform
        geo = spark.createDataFrame(
            [("road_img", 1300, 1300, a, b, c, d, e, f_, 4326, None)],
            "image_id string, w int, h int, a double, b double, c double, "
            "d double, e double, f double, epsg int, nodata double")
        out = masks.road_masks(roads, geo, width=4.0, meters=True).collect()
        arr = np.frombuffer(out[0]["mask"], dtype=np.uint8).reshape(1300, 1300)
        truth = read_tiff(f"{DATA}/sample_road_raster_mask.tif").array[0]
        assert np.array_equal(arr, truth)

    @pytest.mark.parametrize("epsg, t", [
        (4326, (9e-6, 0.0, -84.39, 0.0, -9e-6, 33.75)),
        (32616, (0.5, 0.0, 733600.0, 0.0, -0.5, 3726000.0))],
        ids=["lonlat_meters", "projected"])
    def test_synthetic_roads_match_per_line_oracle(self, spark, epsg, t):
        """Seeded LINESTRING / MULTILINESTRING roads (and a NULL and EMPTY
        lines, which draw nothing) in lon/lat with meters=True, and in a
        projected CRS: byte-equal to the per-line oracle."""
        rng = np.random.default_rng(epsg)
        shape, width = (240, 320), 4.0

        def line():
            px = rng.uniform((-20, -20), (340, 260),
                             size=(int(rng.integers(2, 7)), 2))
            return G.affine_apply(px, t)

        wkts = [G.wkt_dump("LINESTRING", [line()]) for _ in range(4)]
        wkts.append(G.wkt_dump("MULTILINESTRING", [line(), line()]))
        wkts += ["LINESTRING EMPTY", "MULTILINESTRING EMPTY"]
        roads = spark.createDataFrame(
            [("rd", w) for w in wkts] + [("rd", None)],
            "image_id string, wkt string")
        geo = spark.createDataFrame(
            [("rd", shape[1], shape[0], *t, epsg, None)],
            "image_id string, w int, h int, a double, b double, c double, "
            "d double, e double, f double, epsg int, nodata double")
        out = masks.road_masks(roads, geo, width=width, meters=True).collect()
        assert len(out) == 1
        r = out[0]
        assert (r["h"], r["w"], r["nchan"], r["channels"]) == \
            (*shape, 1, "road")
        got = np.frombuffer(r["mask"], dtype=np.uint8).reshape(shape)
        want = _road_oracle(wkts, t, epsg, shape, width)
        assert want.any() and (want == 0).any()
        assert np.array_equal(got, want)


class TestInstanceMasks:
    @pytest.mark.needs_reference("sample_geotiff.tif")
    def test_channels_consistent_with_footprint(self, spark, fixture_ig,
                                                sample_labels):
        """No golden exists in the reference repo for instance masks
        (sample_inst_mask.tif is absent); check per-feature channels OR up
        to the footprint mask instead."""
        inst = masks.instance_masks(sample_labels, fixture_ig).collect()
        assert len(inst) == 151
        acc = np.zeros((900, 900), dtype=np.uint8)
        for r in inst:
            m = np.frombuffer(r["mask"], dtype=np.uint8).reshape(900, 900)
            acc = np.maximum(acc, m)
        fp = masks.image_masks(sample_labels, fixture_ig,
                               channels=["footprint"]).collect()[0]
        fp_arr = unpack(fp)[:, :, 0]
        assert np.array_equal(acc, fp_arr)

    def test_null_geometry_gives_an_all_zero_mask(self, spark):
        """A NULL label geometry gives an all-zero mask row for its
        label_id, as POLYGON EMPTY does, next to a real label's mask."""
        box = "POLYGON ((2 2, 9 2, 9 7.5, 2 7.5, 2 2))"
        lab = spark.createDataFrame(
            [("img", 0, box), ("img", 1, None), ("img", 2, "POLYGON EMPTY")],
            "image_id string, label_id int, wkt_pix string")
        geo = spark.createDataFrame(
            [("img", 12, 10, 1.0, 0.0, 0.0, 0.0, 1.0, 0.0, None)],
            "image_id string, w int, h int, a double, b double, c double, "
            "d double, e double, f double, nodata double")
        rows = sorted(masks.instance_masks(lab, geo).collect(),
                      key=lambda r: r["label_id"])
        assert [r["label_id"] for r in rows] == [0, 1, 2]
        got = [np.frombuffer(r["mask"], dtype=np.uint8).reshape(10, 12)
               for r in rows]
        assert np.array_equal(got[0], R.rasterize_rings(
            G.polygon_rings(box), (10, 12), value=255))
        assert (got[0] == 255).sum() == 7 * 5
        assert not got[1].any() and not got[2].any()

    def test_empty_string_geometry_gives_an_all_zero_mask(self, spark):
        """A "" label geometry is no geometry, as NULL and EMPTY are: an
        all-zero mask row, not a failed query."""
        box = "POLYGON ((2 2, 9 2, 9 7.5, 2 7.5, 2 2))"
        lab = spark.createDataFrame(
            [("img", 0, ""), ("img", 1, box)],
            "image_id string, label_id int, wkt_pix string")
        geo = spark.createDataFrame(
            [("img", 12, 10, 1.0, 0.0, 0.0, 0.0, 1.0, 0.0, None)],
            "image_id string, w int, h int, a double, b double, c double, "
            "d double, e double, f double, nodata double")
        rows = sorted(masks.instance_masks(lab, geo).collect(),
                      key=lambda r: r["label_id"])
        got = [np.frombuffer(r["mask"], dtype=np.uint8).reshape(10, 12)
               for r in rows]
        assert not got[0].any() and (got[1] == 255).sum() == 7 * 5


class TestMasksToPolygonsSynth:
    @pytest.mark.parametrize("do_transform", [False, True])
    def test_equals_per_mask_polygonize(self, spark, do_transform):
        """masks_to_polygons over image_masks of synthetic labels gives the
        rows polygonize.mask_to_polygons gives on the same mask bytes, in
        pixel or (with do_transform) CRS coordinates."""
        from solaris_spark.functions import polygonize as P
        from solaris_spark.operators import tiling
        images = synth.images_table(spark, 4, seed=5, include_fixture=False,
                                    min_px=48, max_px=96)
        ig = tiling.with_geo(images, synth.image_geo_table(spark, images,
                                                           seed=5))
        labels = synth.labels_table(spark, images, seed=5)
        m = masks.image_masks(labels, ig, channels=["footprint"]).cache()
        got = sorted(tuple(r) for r in masks.masks_to_polygons(
            m, min_area=20.0, do_transform=do_transform,
            images_geo=ig).collect())
        affine = {r["image_id"]: tuple(r[k] for k in "abcdef")
                  for r in ig.select("image_id", *"abcdef").collect()}
        want = []
        for r in m.collect():
            polys = P.mask_to_polygons(
                unpack(r)[:, :, 0], min_area=20.0,
                transform=affine[r["image_id"]] if do_transform else None)
            want += [(r["image_id"], i, G.wkt_dump("POLYGON", rings),
                      val, area)
                     for i, (rings, val, area) in enumerate(polys)]
        m.unpersist()
        assert len({r[0] for r in want}) == 4
        assert got == sorted(want)
