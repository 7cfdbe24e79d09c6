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
    """road_masks rebuilt one line at a time: each line's
    line_offset_curve (in metres in the UTM zone of all vertices' mean for
    EPSG 4326, else in pixels after the affine) burnt on its own by
    rasterize_rings(winding=True), the masks OR-ed."""
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
            c = G.line_offset_curve(np.stack([E, N], axis=1), width / 2.0)
            lon, lat = G.utm_to_wgs84(c[:, 0], c[:, 1], zone)
            curve = G.affine_apply(np.stack([lon, lat], axis=1), inv)
        else:
            curve = G.line_offset_curve(G.affine_apply(ln, inv), width / 2.0)
        one = R.rasterize_rings([curve], shape, value=255, winding=True)
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
        """Seeded LINESTRING / MULTILINESTRING roads (and a NULL) in lon/lat
        with meters=True, and in a projected CRS: byte-equal to the per-line
        oracle."""
        rng = np.random.default_rng(epsg)
        shape, width = (240, 320), 4.0

        def line():
            px = rng.uniform((-20, -20), (340, 260),
                             size=(int(rng.integers(2, 7)), 2))
            return G.affine_apply(px, t)

        wkts = [G.wkt_dump("LINESTRING", [line()]) for _ in range(4)]
        wkts.append(G.wkt_dump("MULTILINESTRING", [line(), line()]))
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
