"""Per-class eval (precision/recall/mF1/mAP) parity vs the reference's
eval_vector fixture set — mirrors tests/test_eval/vector_test.py:
mAP.round(2) == 0.85."""

import json
import os

import numpy as np
import pytest

from solaris_spark.functions import geom as G
from solaris_spark.operators import evalops

DATA = "/root/reference/solaris/data/eval_vector"


def load_dir(d, cls_attr, conf=False):
    rows = []
    for fn in sorted(os.listdir(d)):
        gj = json.load(open(os.path.join(d, fn)))
        for i, f in enumerate(gj["features"]):
            g = f["geometry"]
            if g["type"] != "Polygon":
                continue
            rings = [np.asarray(r, float)[:, :2] for r in g["coordinates"]]
            row = [fn, i, G.wkt_dump("POLYGON", rings),
                   str(f["properties"][cls_attr])]
            if conf:
                row.append(float(f["properties"].get("confidence", 1.0)))
            rows.append(tuple(row))
    return rows


@pytest.fixture(scope="module")
def class_ious(spark):
    gt = spark.createDataFrame(
        load_dir(f"{DATA}/gt", "make"),
        "image_id string, row_id long, wkt string, class string")
    pred = spark.createDataFrame(
        load_dir(f"{DATA}/preds", "class", conf=True),
        "image_id string, row_id long, wkt string, class string, conf double")
    ci = evalops.class_matched_ious(gt, pred).persist()
    ci.count()
    yield ci
    ci.unpersist()


class TestMapVector:
    @pytest.mark.needs_reference("eval_vector/gt")
    def test_map_pinned_085(self, spark, class_ious):
        res = evalops.mean_average_precision(class_ious)
        assert round(res["mAP"], 2) == 0.85

    @pytest.mark.needs_reference("eval_vector/gt")
    def test_ap_by_class_dataframe_shape(self, spark, class_ious):
        """The primary AP output is a (class, ap) DataFrame — the dict is
        a driver-side wrapper over it, and both agree."""
        ap = evalops.average_precision_by_class(class_ious)
        assert ap.columns == ["class", "ap"]
        rows = {r["class"]: r["ap"] for r in ap.collect()}
        res = evalops.mean_average_precision(class_ious)
        assert rows == res["ap_by_class"]
        assert round(float(np.mean(list(rows.values()))), 2) == 0.85

    @pytest.mark.needs_reference("eval_vector/gt")
    def test_class_scores_sane(self, spark, class_ious):
        cs = evalops.class_scores(class_ious).collect()
        assert len(cs) >= 3
        mf1 = float(np.mean([r["f1"] for r in cs]))
        mp = float(np.mean([r["precision"] for r in cs]))
        mr = float(np.mean([r["recall"] for r in cs]))
        assert 0.7 < mf1 < 0.95 and 0.7 < mp < 0.95 and 0.7 < mr < 0.95
        for r in cs:
            assert 0.0 <= r["precision"] <= 1.0
            assert 0.0 <= r["recall"] <= 1.0
