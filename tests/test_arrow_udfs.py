"""The 14 scalar Arrow UDFs, pinned through their public operators.

Each case runs an operator on a small inline input (no fixture files)
whose rows sit in one partition next to an empty one, once with clean
rows and once with a NULL in each argument of the operator's UDF (and
once with ``""`` in the WKT argument of ``to_geo``, ``bbox``, ``clip``
and ``geom_stats``).  The expected outcome is the sorted ``repr`` of
every output row, or, when the query fails, the Python exception named at
the end of the worker's traceback.  They were recorded with the engine's
earlier pandas UDFs, so a port that changes a value, a NULL or an error
shows here.  The NULL and ``""`` WKT entries of ``clip`` and
``geom_stats`` were recorded when ``geom.pack_polygons`` began to read
both as no geometry (before, a NULL failed the query with
AttributeError and a ``""`` with ValueError); the ``""`` entries of
``to_geo`` and ``bbox`` when ``geom.transform_wkt`` and ``geom_bounds``
began to read ``""`` as no geometry (before, ValueError), and the
NULL-coefficient entries of ``to_geo`` when ``labels_geo`` began to give
them a NULL geometry and bbox (before, ``POLYGON ((nan …))`` with NULL
bbox corners).  The NULL entries of ``to_geo`` (wkt_pix), ``bbox``,
``conv``, ``split``, ``rnd``, ``chan_means``, ``assign`` (tv),
``probe`` and ``srp_sketch`` were recorded when ``blobs.scalar_udf``
began to apply SQL's NULL rule for every body (a NULL argument, or NaN
in a float argument, gives a NULL result); before, each of them failed
the query.  The Spark-free tests after the cases check that rule on the
wrapper itself.

The last tests keep pandas, test oracles and SparkContext broadcasts out
of the engine package.
"""

import os
import re

import numpy as np
import pyarrow as pa
import pyspark.sql.types as T
import pytest

from solaris_spark.operators import (ann, blobs, dedup, export, graph,
                                     imageops, joins, tiling)

CASES = {}


def case(name):
    def reg(fn):
        CASES[name] = fn
        return fn
    return reg


def _df(spark, rows, schema):
    """``rows`` in one partition, after an empty one."""
    sc = spark.sparkContext
    rdd = sc.parallelize([], 1).union(sc.parallelize(rows, 1))
    return spark.createDataFrame(rdd, schema)


def _schema(*fields):
    return T.StructType([T.StructField(n, t, True) for n, t in fields])


S, D, I = T.StringType(), T.DoubleType(), T.IntegerType()
VEC = T.ArrayType(T.DoubleType())
SQ = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
HOLE = ("POLYGON ((0 0, 20 0, 20 20, 0 20, 0 0), "
        "(5 5, 5 15, 15 15, 15 5, 5 5))")
TRI = "POLYGON ((2 1, 30 4, 12 25, 2 1))"
MULTI = ("MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), "
         "((10 10, 14 10, 14 14, 10 10)))")
MLINE = "MULTILINESTRING ((0 0, 1 1, 2 1), (5 5, 6 7))"


def _nulled(rows, col, names, value=None):
    """rows with column ``col`` of the last row set to NULL (or
    ``value``)."""
    k = names.index(col)
    last = list(rows[-1])
    last[k] = value
    return rows[:-1] + [tuple(last)]


# -- tiling.labels_geo: to_geo(wkt_pix, a, b, c, d, e, f) -------------------

LG_LABELS = [("i0", 1, SQ), ("i0", 2, HOLE), ("i1", 3, TRI)]
LG_GEO = [("i0", 0.5, 0.0, 500000.0, 0.0, -0.5, 4000000.0),
          ("i1", 0.3, 0.1, 1000.25, 0.05, -0.3, 2000.75)]
LG_GEO_COLS = ["image_id", "a", "b", "c", "d", "e", "f"]


def _labels_geo(spark, labels=LG_LABELS, geo=LG_GEO):
    lab = _df(spark, labels, _schema(("image_id", S), ("label_id", I),
                                     ("wkt_pix", S)))
    g = _df(spark, geo, _schema(*[(c, S if c == "image_id" else D)
                                  for c in LG_GEO_COLS]))
    return tiling.labels_geo(lab, g)


case("to_geo-base")(lambda spark: _labels_geo(spark))
case("to_geo-null-wkt_pix")(lambda spark: _labels_geo(
    spark, labels=_nulled(LG_LABELS, "wkt_pix",
                          ["image_id", "label_id", "wkt_pix"])))
case("to_geo-empty-wkt_pix")(lambda spark: _labels_geo(
    spark, labels=_nulled(LG_LABELS, "wkt_pix",
                          ["image_id", "label_id", "wkt_pix"], "")))
for _c in "abcdef":
    case(f"to_geo-null-{_c}")(lambda spark, _c=_c: _labels_geo(
        spark, geo=_nulled(LG_GEO, _c, LG_GEO_COLS)))


# -- tiling.vector_tiles: bbox(wkt_geo) and clip(wkt_geo, xmin..ymax) --------

VT_LABELS = [("i0", 1, SQ), ("i0", 2, HOLE), ("i0", 3, TRI)]
VT_GRID_COLS = ["tile_id", "image_id", "tx", "ty",
                "xmin", "ymin", "xmax", "ymax"]
VT_GRID = [(f"t{tx}{ty}", "i0", tx, ty, 16.0 * tx, 16.0 * ty,
            16.0 * tx + 16.0, 16.0 * ty + 16.0)
           for tx in range(2) for ty in range(2)]


def _vector_tiles(spark, labels=VT_LABELS, grid=VT_GRID, bbox=False,
                  tile_px=None):
    cols = [("image_id", S), ("label_id", I), ("wkt_geo", S)]
    if bbox:
        from solaris_spark.functions import geom as G
        labels = [r + ((list(G.geom_bounds(r[2])) if r[2] else
                        [0.0, 0.0, 1.0, 1.0]),) for r in labels]
        cols.append(("bbox", VEC))
    lab = _df(spark, labels, _schema(*cols))
    g = _df(spark, grid, _schema(*[(c, I if c in ("tx", "ty") else
                                    S if c.endswith("id") else D)
                                   for c in VT_GRID_COLS]))
    return tiling.vector_tiles(lab, g, tile_px=tile_px)


case("bbox-base")(lambda spark: _vector_tiles(spark))
case("bbox-null-wkt_geo")(lambda spark: _vector_tiles(
    spark, labels=_nulled(VT_LABELS, "wkt_geo",
                          ["image_id", "label_id", "wkt_geo"])))
case("bbox-empty-wkt_geo")(lambda spark: _vector_tiles(
    spark, labels=_nulled(VT_LABELS, "wkt_geo",
                          ["image_id", "label_id", "wkt_geo"], "")))
case("clip-base")(lambda spark: _vector_tiles(spark, bbox=True))
case("clip-tile_px")(lambda spark: _vector_tiles(spark, bbox=True,
                                                 tile_px=(8, 8)))
case("clip-null-wkt_geo")(lambda spark: _vector_tiles(
    spark, bbox=True, labels=_nulled(VT_LABELS, "wkt_geo",
                                     ["image_id", "label_id", "wkt_geo"])))
case("clip-empty-wkt_geo")(lambda spark: _vector_tiles(
    spark, bbox=True, labels=_nulled(VT_LABELS, "wkt_geo",
                                     ["image_id", "label_id", "wkt_geo"],
                                     "")))
for _c in ("xmin", "ymin", "xmax", "ymax"):
    case(f"clip-null-{_c}")(lambda spark, _c=_c: _vector_tiles(
        spark, bbox=True, grid=_nulled(VT_GRID, _c, VT_GRID_COLS)))


# -- export.yolo_labels: geom_stats(wkt_pix, im_w, im_h) ---------------------

YO_LABELS = [("i0", 1, SQ), ("i0", 2, HOLE), ("i1", 3, TRI)]
YO_IMAGES = [("i0", 16, 16), ("i1", 40, 20)]


def _yolo(spark, labels=YO_LABELS, images=YO_IMAGES):
    lab = _df(spark, labels, _schema(("image_id", S), ("label_id", I),
                                     ("wkt_pix", S)))
    im = _df(spark, images, _schema(("image_id", S), ("w", I), ("h", I)))
    return export.yolo_labels(lab, im, min_overlap=0.5)


case("geom_stats-base")(lambda spark: _yolo(spark))
case("geom_stats-null-wkt_pix")(lambda spark: _yolo(
    spark, labels=_nulled(YO_LABELS, "wkt_pix",
                          ["image_id", "label_id", "wkt_pix"])))
case("geom_stats-empty-wkt_pix")(lambda spark: _yolo(
    spark, labels=_nulled(YO_LABELS, "wkt_pix",
                          ["image_id", "label_id", "wkt_pix"], "")))
case("geom_stats-null-im_w")(lambda spark: _yolo(
    spark, images=_nulled(YO_IMAGES, "w", ["image_id", "w", "h"])))
case("geom_stats-null-im_h")(lambda spark: _yolo(
    spark, images=_nulled(YO_IMAGES, "h", ["image_id", "w", "h"])))


# -- export.coco_annotations: conv(wkt_pix) ----------------------------------

def _coco(spark, wkts):
    lab = _df(spark, [("i0", k, w) for k, w in enumerate(wkts)],
              _schema(("image_id", S), ("label_id", I), ("wkt_pix", S)))
    return export.coco_annotations(lab)


case("conv-base")(lambda spark: _coco(spark, [SQ, HOLE, TRI]))
case("conv-null-wkt_pix")(lambda spark: _coco(spark, [SQ, None]))
case("conv-multipolygon")(lambda spark: _coco(spark, [SQ, MULTI]))


# -- export.split_multi_geometries: split(wkt) -------------------------------

def _split(spark, wkts):
    lab = _df(spark, [("i0", w) for w in wkts],
              _schema(("image_id", S), ("wkt", S)))
    return export.split_multi_geometries(lab)


case("split-base")(lambda spark: _split(spark, [SQ, MULTI, MLINE]))
case("split-null-wkt")(lambda spark: _split(spark, [MULTI, None]))


# -- export.round_geometry: rnd(wkt) -----------------------------------------

RND = ["POLYGON ((0.123 0.456, 10.5551 0, 10 10.987, 0.123 0.456))",
       "MULTIPOLYGON (((0.111 0, 4.449 0, 4 4.006, 0.111 0)))",
       "LINESTRING (1.23456 2.34567, 3.45678 4.56789)"]


def _round(spark, wkts):
    lab = _df(spark, [(k, w) for k, w in enumerate(wkts)],
              _schema(("label_id", I), ("wkt", S)))
    return export.round_geometry(lab, precision=1)


case("rnd-base")(lambda spark: _round(spark, RND))
case("rnd-null-wkt")(lambda spark: _round(spark, RND[:1] + [None]))


# -- ann.ivf_knn: assign(tv) and probe(qv); train_centroids: assign(v) -------

CENTS = np.array([[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]])
TVS = [(10, [0.9, 0.1, 0.0]), (11, [0.1, 0.8, 0.2]), (12, [0.0, 0.3, 0.9]),
       (13, [0.7, 0.6, 0.1]), (14, [0.2, 0.1, 0.7])]
QVS = [(1, [1.0, 0.2, 0.1]), (2, [0.1, 0.2, 1.0])]


def _ivf(spark, targets=TVS, queries=QVS):
    t = _df(spark, targets, _schema(("tid", I), ("tv", VEC)))
    q = _df(spark, queries, _schema(("qid", I), ("qv", VEC)))
    return ann.ivf_knn(q, t, k=2, n_probe=2, centroids=CENTS)


class _Rows:
    """A collected value in the shape _outcome reads."""

    def __init__(self, rows):
        self.rows = rows

    def collect(self):
        return self.rows


def _train(spark, vecs):
    v = _df(spark, [(x,) for x in vecs], _schema(("v", VEC)))
    return _Rows([tuple(map(tuple, ann.train_centroids(v, "v", 2)))])


case("assign-base")(lambda spark: _ivf(spark))
case("assign-null-tv")(lambda spark: _ivf(
    spark, targets=_nulled(TVS, "tv", ["tid", "tv"])))
case("assign-train")(lambda spark: _train(spark, [v for _, v in TVS]))
case("assign-train-null-v")(lambda spark: _train(
    spark, [v for _, v in TVS] + [None]))
case("probe-null-qv")(lambda spark: _ivf(
    spark, queries=_nulled(QVS, "qv", ["qid", "qv"])))


# -- joins.point_in_polygon_join: pip(x, y, wkt) -----------------------------

PIP_POINTS = [(1, 1.0, 1.0), (2, 5.0, 5.0), (3, 12.0, 3.0), (4, 9.5, 9.5),
              (5, 16.0, 16.0)]
PIP_POLYS = [(100, HOLE, 0.0, 0.0, 20.0, 20.0),
             (101, SQ, 0.0, 0.0, 10.0, 10.0)]


def _pip(spark, points=PIP_POINTS, polys=PIP_POLYS):
    p = _df(spark, points, _schema(("id", I), ("x", D), ("y", D)))
    g = _df(spark, polys, _schema(("poly_id", I), ("wkt", S), ("xmin", D),
                                  ("ymin", D), ("xmax", D), ("ymax", D)))
    return joins.point_in_polygon_join(p, g, cell_size=8.0)


case("pip-base")(lambda spark: _pip(spark))
case("pip-null-x")(lambda spark: _pip(
    spark, points=_nulled(PIP_POINTS, "x", ["id", "x", "y"])))
case("pip-null-y")(lambda spark: _pip(
    spark, points=_nulled(PIP_POINTS, "y", ["id", "x", "y"])))
case("pip-null-wkt")(lambda spark: _pip(
    spark, polys=_nulled(PIP_POLYS, "wkt", ["poly_id", "wkt", "xmin",
                                            "ymin", "xmax", "ymax"])))


# -- joins.with_s2_cell: tok(lat, lng) ---------------------------------------

LL = [(1, 37.7749, -122.4194), (2, -33.8688, 151.2093), (3, 0.0, 0.0)]


def _s2(spark, rows=LL):
    df = _df(spark, rows, _schema(("id", I), ("lat", D), ("lng", D)))
    return joins.with_s2_cell(df, level=10)


case("tok-base")(lambda spark: _s2(spark))
case("tok-null-lat")(lambda spark: _s2(
    spark, _nulled(LL, "lat", ["id", "lat", "lng"])))
case("tok-null-lng")(lambda spark: _s2(
    spark, _nulled(LL, "lng", ["id", "lat", "lng"])))


# -- dedup.embedding_near_dup_pairs: srp_sketch(embedding) -------------------

EMB = [(1, [1.0, 0.0, 0.2, 0.1]), (2, [1.0, 0.01, 0.2, 0.1]),
       (3, [-0.5, 0.9, 0.1, 0.0]), (4, [0.0, 0.0, 1.0, 0.3])]


def _srp(spark, rows=EMB):
    e = _df(spark, rows, _schema(("vec_id", I), ("embedding", VEC)))
    return dedup.embedding_near_dup_pairs(e, threshold=0.9, n_planes=8)


case("srp_sketch-base")(lambda spark: _srp(spark))
case("srp_sketch-null-embedding")(lambda spark: _srp(
    spark, _nulled(EMB, "embedding", ["vec_id", "embedding"])))


# -- graph.build_graph: verts(wkt) -------------------------------------------

ROADS = [(1, "LINESTRING (0 0, 3 4, 6 8)"), (2, MLINE),
         (3, "LINESTRING (0.04 0.01, 3 4)")]


def _graph(spark, rows=ROADS, precision=None):
    r = _df(spark, rows, _schema(("road_id", I), ("wkt", S)))
    nodes, edges = graph.build_graph(r, precision=precision)
    return _Rows(nodes.collect() + edges.collect())


case("verts-base")(lambda spark: _graph(spark))
case("verts-precision")(lambda spark: _graph(spark, precision=1))
case("verts-null-wkt")(lambda spark: _graph(
    spark, _nulled(ROADS, "wkt", ["road_id", "wkt"])))


# -- imageops.channel_fill_values: chan_means(bytes, w, h, fmt) --------------

_PIX = np.arange(2 * 3 * 4, dtype=np.uint8).reshape(2, 3, 4)
_F32 = (np.arange(3 * 2, dtype=np.float32) / 4).reshape(1, 3, 2)
_F32[0, 1, 1] = np.nan
IMAGES = [("i0", _PIX.tobytes(), 4, 3, "raw-u8-c2"),
          ("i1", _F32.tobytes(), 2, 3, "raw-f32-c1")]
IM_COLS = ["image_id", "bytes", "w", "h", "fmt"]


def _fill(spark, rows=IMAGES):
    im = _df(spark, rows, _schema(("image_id", S), ("bytes", T.BinaryType()),
                                  ("w", I), ("h", I), ("fmt", S)))
    return imageops.channel_fill_values(im)


case("chan_means-base")(lambda spark: _fill(spark))
for _c in ("bytes", "w", "h", "fmt"):
    case(f"chan_means-null-{_c}")(lambda spark, _c=_c: _fill(
        spark, _nulled(IMAGES, _c, IM_COLS)))


def _outcome(result):
    """Sorted row reprs, or ("error", Python exception class).  The Spark
    class wrapping a worker's error is left out: it depends on which stage
    surfaces the error first (PythonException or Py4JJavaError for the
    same query on the same tree)."""
    try:
        rows = result.collect()
    except Exception as e:  # noqa: BLE001 - the class is the outcome
        names = re.findall(r"^([\w.]+(?:Error|Exception)):", str(e), re.M)
        return ("error", names[-1] if names else None)
    return sorted(repr(tuple(r)) for r in rows)


@pytest.mark.parametrize("name", sorted(CASES))
def test_arrow_udf(spark, name):
    assert _outcome(CASES[name](spark)) == EXPECTED[name]


@pytest.mark.parametrize("name", [
    "to_geo-base", "bbox-base", "clip-base", "geom_stats-base", "conv-base",
    "split-base", "rnd-base", "assign-base", "pip-base", "tok-base",
    "srp_sketch-base", "chan_means-base"])
def test_plan_runs_scalar_arrow_udfs(spark, name):
    """Each UDF is an ArrowEvalPython node of evalType 250 (a scalar Arrow
    UDF), so the Python-node metrics count it; the clip and geom_stats
    filters still run their UDF once."""
    plan = CASES[name](spark)._jdf.queryExecution().executedPlan().toString()
    nodes = [line for line in plan.splitlines() if "EvalPython" in line]
    assert nodes and all("ArrowEvalPython" in line
                         and line.rstrip().endswith(", 250")
                         for line in nodes), nodes
    if name in ("clip-base", "geom_stats-base"):
        assert len(nodes) == 1, nodes


# -- blobs.scalar_udf's NULL rule, without Spark -----------------------------

def _recorded(return_type, result):
    """A scalar_udf's Python function (``.func``) whose body records the
    argument values it gets and returns ``result`` of them."""
    calls = []

    @blobs.scalar_udf(return_type)
    def body(*vals):
        calls.append(vals)
        return result(*vals)

    return body.func, calls


def test_null_and_nan_rows_never_reach_the_body():
    """A NULL in any argument, or NaN in a float argument, makes the row
    NULL without the body seeing it; NaN inside a list stays a value."""
    x = pa.array([1.0, float("nan"), 3.0, None, 5.0])
    s = pa.array(["a", "b", None, "d", "e"])
    v = pa.array([[1.0], [2.0], [3.0], None, [float("nan")]])
    f, calls = _recorded(S, lambda x, s, v: [f"{a}{b}{len(c)}" for a, b, c
                                             in zip(x, s, v)])
    assert f(x, s, v).to_pylist() == ["1.0a1", None, None, None, "5.0e1"]
    [(xs, ss, vs)] = calls
    assert xs == [1.0, 5.0] and ss == ["a", "e"]
    assert vs[0] == [1.0] and np.isnan(vs[1][0])

    st = T.StructType([T.StructField("s", S), T.StructField("n", D)])
    f, calls = _recorded(st, lambda x, s, v: [(b, a) for a, b in zip(x, s)])
    out = f(x, s, v)
    assert out.type == pa.struct([("s", pa.string()), ("n", pa.float64())])
    assert out.is_null().to_pylist() == [False, True, True, True, False]
    assert out.to_pylist()[4] == {"s": "e", "n": 5.0}


@pytest.mark.parametrize("x", [pa.array([None, float("nan")]),
                               pa.array([], pa.float64())])
def test_all_masked_or_empty_batch_gives_typed_nulls(x):
    f, calls = _recorded(VEC, lambda x: [[a] for a in x])
    out = f(x, pa.array(["a", "b"][:len(x)]))
    assert out.equals(pa.nulls(len(x), pa.list_(pa.float64())))
    assert calls == []


def test_unmasked_batch_reaches_the_body_as_it_came(monkeypatch):
    cols = [pa.array([1.5, 2.5]), pa.array([b"ab", b"cd"]),
            pa.array([[1.0, float("nan")], []])]
    seen = []
    real = blobs.arrow_values
    monkeypatch.setattr(blobs, "arrow_values",
                        lambda c: seen.append(c) or real(c))
    f, calls = _recorded(T.BooleanType(), lambda *vals: [True, False])
    assert f(*cols).to_pylist() == [True, False]
    assert len(seen) == 3 and all(a is b for a, b in zip(seen, cols))
    assert len(calls) == 1


def _engine_lines_matching(pattern):
    """``path:line`` of every engine source line that matches ``pattern``."""
    root = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "solaris_spark")
    bad = re.compile(pattern)
    hits = []
    for d, _, files in os.walk(root):
        for fn in files:
            if fn.endswith(".py"):
                path = os.path.join(d, fn)
                with open(path) as fh:
                    hits += [f"{path}:{i}" for i, line in enumerate(fh, 1)
                             if bad.search(line)]
    return hits


def test_no_pandas_in_engine():
    """No engine module crosses the Python boundary as pandas."""
    hits = _engine_lines_matching(
        r"pandas_udf|applyInPandas|mapInPandas|import pandas")
    assert not hits, hits


def test_no_oracle_imports_in_engine():
    """tests/oracles.py holds the independent kernels the engine is
    checked against, so no engine module imports ``tests`` or
    ``oracles``."""
    hits = _engine_lines_matching(
        r"^\s*(?:import|from)\s+[\w.]*\b(?:tests|oracles)\b"
        r"|^\s*from\s+\S+\s+import\b.*\b(?:tests|oracles)\b")
    assert not hits, hits


def test_no_context_broadcast_in_engine():
    """A UDF's constants ride in its closure (PySpark broadcasts a large
    pickled UDF itself), so no engine module calls a SparkContext's
    ``.broadcast(``; ``F.broadcast`` join hints are allowed."""
    hits = _engine_lines_matching(r"(?<!\bF)\.broadcast\(")
    assert not hits, hits


EXPECTED = {'assign-base': ['(1, 10, 1, 0.9914852360407972)',
                 '(1, 13, 2, 0.8734422932544689)',
                 '(2, 12, 1, 0.9875414397573881)',
                 '(2, 14, 2, 0.9827435232305015)'],
 'assign-null-tv': ['(1, 10, 1, 0.9914852360407972)',
                    '(1, 13, 2, 0.8734422932544689)',
                    '(2, 11, 2, 0.4346928823909822)',
                    '(2, 12, 1, 0.9875414397573881)'],
 'assign-train': ['((0.8, 0.35, 0.05), (0.10000000000000002, '
                  '0.4000000000000001, 0.6))'],
 'assign-train-null-v': ['((0.8, 0.35, 0.05), (0.10000000000000002, '
                         '0.4000000000000001, 0.6))'],
 'bbox-base': ["('t00', 'i0', 1, 'POLYGON ((0.0 0.0, 10.0 0.0, 10.0 10.0, "
               "0.0 10.0, 0.0 0.0))', None, 100.0, 100.0, 1.0, 0)",
               "('t00', 'i0', 2, 'POLYGON ((0.0 16.0, 0.0 0.0, 16.0 0.0, "
               '16.0 16.0, 0.0 16.0), (5.0 5.0, 5.0 15.0, 15.0 15.0, 15.0 '
               "5.0, 5.0 5.0))', None, 300.0, 156.0, 0.52, 1)",
               "('t00', 'i0', 3, 'POLYGON ((8.25 16.0, 2.0 1.0, 16.0 2.5, "
               "16.0 16.0, 8.25 16.0))', None, 321.0, 152.625, "
               '0.47546728971962615, 1)',
               "('t01', 'i0', 2, 'POLYGON ((0.0 16.0, 16.0 16.0, 16.0 20.0, "
               "0.0 20.0, 0.0 16.0))', None, 300.0, 64.0, "
               '0.21333333333333335, 1)',
               "('t01', 'i0', 3, 'POLYGON ((8.25 16.0, 16.0 16.0, 16.0 "
               "20.333333333333332, 12.0 25.0, 8.25 16.0))', None, 321.0, "
               '43.54166666666666, 0.13564382139148493, 1)',
               "('t10', 'i0', 2, 'POLYGON ((16.0 16.0, 16.0 0.0, 20.0 0.0, "
               "20.0 16.0, 16.0 16.0))', None, 300.0, 64.0, "
               '0.21333333333333335, 1)',
               "('t10', 'i0', 3, 'POLYGON ((16.0 16.0, 16.0 2.5, 30.0 4.0, "
               "19.714285714285715 16.0, 16.0 16.0))', None, 321.0, "
               '116.78571428571429, 0.36381842456608815, 1)',
               "('t11', 'i0', 2, 'POLYGON ((16.0 16.0, 20.0 16.0, 20.0 20.0, "
               "16.0 20.0, 16.0 16.0))', None, 300.0, 16.0, "
               '0.05333333333333334, 1)',
               "('t11', 'i0', 3, 'POLYGON ((16.0 16.0, 19.714285714285715 "
               "16.0, 16.0 20.333333333333332, 16.0 16.0))', None, 321.0, "
               '8.047619047619047, 0.02507046432280077, 1)'],
 'bbox-empty-wkt_geo': ["('t00', 'i0', 1, 'POLYGON ((0.0 0.0, 10.0 0.0, 10.0 "
                        "10.0, 0.0 10.0, 0.0 0.0))', None, 100.0, 100.0, 1.0, "
                        '0)',
                        "('t00', 'i0', 2, 'POLYGON ((0.0 16.0, 0.0 0.0, 16.0 "
                        '0.0, 16.0 16.0, 0.0 16.0), (5.0 5.0, 5.0 15.0, 15.0 '
                        "15.0, 15.0 5.0, 5.0 5.0))', None, 300.0, 156.0, "
                        '0.52, 1)',
                        "('t01', 'i0', 2, 'POLYGON ((0.0 16.0, 16.0 16.0, "
                        "16.0 20.0, 0.0 20.0, 0.0 16.0))', None, 300.0, 64.0, "
                        '0.21333333333333335, 1)',
                        "('t10', 'i0', 2, 'POLYGON ((16.0 16.0, 16.0 0.0, "
                        "20.0 0.0, 20.0 16.0, 16.0 16.0))', None, 300.0, "
                        '64.0, 0.21333333333333335, 1)',
                        "('t11', 'i0', 2, 'POLYGON ((16.0 16.0, 20.0 16.0, "
                        "20.0 20.0, 16.0 20.0, 16.0 16.0))', None, 300.0, "
                        '16.0, 0.05333333333333334, 1)'],
 'bbox-null-wkt_geo': ["('t00', 'i0', 1, 'POLYGON ((0.0 0.0, 10.0 0.0, 10.0 "
                       "10.0, 0.0 10.0, 0.0 0.0))', None, 100.0, 100.0, 1.0, "
                       '0)',
                       "('t00', 'i0', 2, 'POLYGON ((0.0 16.0, 0.0 0.0, 16.0 "
                       '0.0, 16.0 16.0, 0.0 16.0), (5.0 5.0, 5.0 15.0, 15.0 '
                       "15.0, 15.0 5.0, 5.0 5.0))', None, 300.0, 156.0, 0.52, "
                       '1)',
                       "('t01', 'i0', 2, 'POLYGON ((0.0 16.0, 16.0 16.0, 16.0 "
                       "20.0, 0.0 20.0, 0.0 16.0))', None, 300.0, 64.0, "
                       '0.21333333333333335, 1)',
                       "('t10', 'i0', 2, 'POLYGON ((16.0 16.0, 16.0 0.0, 20.0 "
                       "0.0, 20.0 16.0, 16.0 16.0))', None, 300.0, 64.0, "
                       '0.21333333333333335, 1)',
                       "('t11', 'i0', 2, 'POLYGON ((16.0 16.0, 20.0 16.0, "
                       "20.0 20.0, 16.0 20.0, 16.0 16.0))', None, 300.0, "
                       '16.0, 0.05333333333333334, 1)'],
 'chan_means-base': ["('i0', [5.5, 17.5])", "('i1', [0.6])"],
 'chan_means-null-bytes': ["('i0', [5.5, 17.5])", "('i1', None)"],
 'chan_means-null-fmt': ["('i0', [5.5, 17.5])", "('i1', None)"],
 'chan_means-null-h': ["('i0', [5.5, 17.5])", "('i1', None)"],
 'chan_means-null-w': ["('i0', [5.5, 17.5])", "('i1', None)"],
 'clip-base': ["('t00', 'i0', 1, 'POLYGON ((0.0 0.0, 10.0 0.0, 10.0 10.0, "
               "0.0 10.0, 0.0 0.0))', None, 100.0, 100.0, 1.0, 0)",
               "('t00', 'i0', 2, 'POLYGON ((0.0 16.0, 0.0 0.0, 16.0 0.0, "
               '16.0 16.0, 0.0 16.0), (5.0 5.0, 5.0 15.0, 15.0 15.0, 15.0 '
               "5.0, 5.0 5.0))', None, 300.0, 156.0, 0.52, 1)",
               "('t00', 'i0', 3, 'POLYGON ((8.25 16.0, 2.0 1.0, 16.0 2.5, "
               "16.0 16.0, 8.25 16.0))', None, 321.0, 152.625, "
               '0.47546728971962615, 1)',
               "('t01', 'i0', 2, 'POLYGON ((0.0 16.0, 16.0 16.0, 16.0 20.0, "
               "0.0 20.0, 0.0 16.0))', None, 300.0, 64.0, "
               '0.21333333333333335, 1)',
               "('t01', 'i0', 3, 'POLYGON ((8.25 16.0, 16.0 16.0, 16.0 "
               "20.333333333333332, 12.0 25.0, 8.25 16.0))', None, 321.0, "
               '43.54166666666666, 0.13564382139148493, 1)',
               "('t10', 'i0', 2, 'POLYGON ((16.0 16.0, 16.0 0.0, 20.0 0.0, "
               "20.0 16.0, 16.0 16.0))', None, 300.0, 64.0, "
               '0.21333333333333335, 1)',
               "('t10', 'i0', 3, 'POLYGON ((16.0 16.0, 16.0 2.5, 30.0 4.0, "
               "19.714285714285715 16.0, 16.0 16.0))', None, 321.0, "
               '116.78571428571429, 0.36381842456608815, 1)',
               "('t11', 'i0', 2, 'POLYGON ((16.0 16.0, 20.0 16.0, 20.0 20.0, "
               "16.0 20.0, 16.0 16.0))', None, 300.0, 16.0, "
               '0.05333333333333334, 1)',
               "('t11', 'i0', 3, 'POLYGON ((16.0 16.0, 19.714285714285715 "
               "16.0, 16.0 20.333333333333332, 16.0 16.0))', None, 321.0, "
               '8.047619047619047, 0.02507046432280077, 1)'],
 'clip-empty-wkt_geo': ["('t00', 'i0', 1, 'POLYGON ((0.0 0.0, 10.0 0.0, 10.0 "
                        "10.0, 0.0 10.0, 0.0 0.0))', None, 100.0, 100.0, "
                        '1.0, 0)',
                        "('t00', 'i0', 2, 'POLYGON ((0.0 16.0, 0.0 0.0, 16.0 "
                        '0.0, 16.0 16.0, 0.0 16.0), (5.0 5.0, 5.0 15.0, 15.0 '
                        "15.0, 15.0 5.0, 5.0 5.0))', None, 300.0, 156.0, "
                        '0.52, 1)',
                        "('t01', 'i0', 2, 'POLYGON ((0.0 16.0, 16.0 16.0, "
                        "16.0 20.0, 0.0 20.0, 0.0 16.0))', None, 300.0, "
                        '64.0, 0.21333333333333335, 1)',
                        "('t10', 'i0', 2, 'POLYGON ((16.0 16.0, 16.0 0.0, "
                        "20.0 0.0, 20.0 16.0, 16.0 16.0))', None, 300.0, "
                        '64.0, 0.21333333333333335, 1)',
                        "('t11', 'i0', 2, 'POLYGON ((16.0 16.0, 20.0 16.0, "
                        "20.0 20.0, 16.0 20.0, 16.0 16.0))', None, 300.0, "
                        '16.0, 0.05333333333333334, 1)'],
 'clip-null-wkt_geo': ["('t00', 'i0', 1, 'POLYGON ((0.0 0.0, 10.0 0.0, 10.0 "
                       "10.0, 0.0 10.0, 0.0 0.0))', None, 100.0, 100.0, 1.0, "
                       '0)',
                       "('t00', 'i0', 2, 'POLYGON ((0.0 16.0, 0.0 0.0, 16.0 "
                       '0.0, 16.0 16.0, 0.0 16.0), (5.0 5.0, 5.0 15.0, 15.0 '
                       "15.0, 15.0 5.0, 5.0 5.0))', None, 300.0, 156.0, "
                       '0.52, 1)',
                       "('t01', 'i0', 2, 'POLYGON ((0.0 16.0, 16.0 16.0, "
                       "16.0 20.0, 0.0 20.0, 0.0 16.0))', None, 300.0, 64.0, "
                       '0.21333333333333335, 1)',
                       "('t10', 'i0', 2, 'POLYGON ((16.0 16.0, 16.0 0.0, "
                       "20.0 0.0, 20.0 16.0, 16.0 16.0))', None, 300.0, "
                       '64.0, 0.21333333333333335, 1)',
                       "('t11', 'i0', 2, 'POLYGON ((16.0 16.0, 20.0 16.0, "
                       "20.0 20.0, 16.0 20.0, 16.0 16.0))', None, 300.0, "
                       '16.0, 0.05333333333333334, 1)'],
 'clip-null-xmax': ["('t00', 'i0', 1, 'POLYGON ((0.0 0.0, 10.0 0.0, 10.0 "
                    "10.0, 0.0 10.0, 0.0 0.0))', None, 100.0, 100.0, 1.0, 0)",
                    "('t00', 'i0', 2, 'POLYGON ((0.0 16.0, 0.0 0.0, 16.0 "
                    '0.0, 16.0 16.0, 0.0 16.0), (5.0 5.0, 5.0 15.0, 15.0 '
                    "15.0, 15.0 5.0, 5.0 5.0))', None, 300.0, 156.0, 0.52, "
                    '1)',
                    "('t00', 'i0', 3, 'POLYGON ((8.25 16.0, 2.0 1.0, 16.0 "
                    "2.5, 16.0 16.0, 8.25 16.0))', None, 321.0, 152.625, "
                    '0.47546728971962615, 1)',
                    "('t01', 'i0', 2, 'POLYGON ((0.0 16.0, 16.0 16.0, 16.0 "
                    "20.0, 0.0 20.0, 0.0 16.0))', None, 300.0, 64.0, "
                    '0.21333333333333335, 1)',
                    "('t01', 'i0', 3, 'POLYGON ((8.25 16.0, 16.0 16.0, 16.0 "
                    "20.333333333333332, 12.0 25.0, 8.25 16.0))', None, "
                    '321.0, 43.54166666666666, 0.13564382139148493, 1)',
                    "('t10', 'i0', 2, 'POLYGON ((16.0 16.0, 16.0 0.0, 20.0 "
                    "0.0, 20.0 16.0, 16.0 16.0))', None, 300.0, 64.0, "
                    '0.21333333333333335, 1)',
                    "('t10', 'i0', 3, 'POLYGON ((16.0 16.0, 16.0 2.5, 30.0 "
                    "4.0, 19.714285714285715 16.0, 16.0 16.0))', None, "
                    '321.0, 116.78571428571429, 0.36381842456608815, 1)'],
 'clip-null-xmin': ["('t00', 'i0', 1, 'POLYGON ((0.0 0.0, 10.0 0.0, 10.0 "
                    "10.0, 0.0 10.0, 0.0 0.0))', None, 100.0, 100.0, 1.0, 0)",
                    "('t00', 'i0', 2, 'POLYGON ((0.0 16.0, 0.0 0.0, 16.0 "
                    '0.0, 16.0 16.0, 0.0 16.0), (5.0 5.0, 5.0 15.0, 15.0 '
                    "15.0, 15.0 5.0, 5.0 5.0))', None, 300.0, 156.0, 0.52, "
                    '1)',
                    "('t00', 'i0', 3, 'POLYGON ((8.25 16.0, 2.0 1.0, 16.0 "
                    "2.5, 16.0 16.0, 8.25 16.0))', None, 321.0, 152.625, "
                    '0.47546728971962615, 1)',
                    "('t01', 'i0', 2, 'POLYGON ((0.0 16.0, 16.0 16.0, 16.0 "
                    "20.0, 0.0 20.0, 0.0 16.0))', None, 300.0, 64.0, "
                    '0.21333333333333335, 1)',
                    "('t01', 'i0', 3, 'POLYGON ((8.25 16.0, 16.0 16.0, 16.0 "
                    "20.333333333333332, 12.0 25.0, 8.25 16.0))', None, "
                    '321.0, 43.54166666666666, 0.13564382139148493, 1)',
                    "('t10', 'i0', 2, 'POLYGON ((16.0 16.0, 16.0 0.0, 20.0 "
                    "0.0, 20.0 16.0, 16.0 16.0))', None, 300.0, 64.0, "
                    '0.21333333333333335, 1)',
                    "('t10', 'i0', 3, 'POLYGON ((16.0 16.0, 16.0 2.5, 30.0 "
                    "4.0, 19.714285714285715 16.0, 16.0 16.0))', None, "
                    '321.0, 116.78571428571429, 0.36381842456608815, 1)'],
 'clip-null-ymax': ["('t00', 'i0', 1, 'POLYGON ((0.0 0.0, 10.0 0.0, 10.0 "
                    "10.0, 0.0 10.0, 0.0 0.0))', None, 100.0, 100.0, 1.0, 0)",
                    "('t00', 'i0', 2, 'POLYGON ((0.0 16.0, 0.0 0.0, 16.0 "
                    '0.0, 16.0 16.0, 0.0 16.0), (5.0 5.0, 5.0 15.0, 15.0 '
                    "15.0, 15.0 5.0, 5.0 5.0))', None, 300.0, 156.0, 0.52, "
                    '1)',
                    "('t00', 'i0', 3, 'POLYGON ((8.25 16.0, 2.0 1.0, 16.0 "
                    "2.5, 16.0 16.0, 8.25 16.0))', None, 321.0, 152.625, "
                    '0.47546728971962615, 1)',
                    "('t01', 'i0', 2, 'POLYGON ((0.0 16.0, 16.0 16.0, 16.0 "
                    "20.0, 0.0 20.0, 0.0 16.0))', None, 300.0, 64.0, "
                    '0.21333333333333335, 1)',
                    "('t01', 'i0', 3, 'POLYGON ((8.25 16.0, 16.0 16.0, 16.0 "
                    "20.333333333333332, 12.0 25.0, 8.25 16.0))', None, "
                    '321.0, 43.54166666666666, 0.13564382139148493, 1)',
                    "('t10', 'i0', 2, 'POLYGON ((16.0 16.0, 16.0 0.0, 20.0 "
                    "0.0, 20.0 16.0, 16.0 16.0))', None, 300.0, 64.0, "
                    '0.21333333333333335, 1)',
                    "('t10', 'i0', 3, 'POLYGON ((16.0 16.0, 16.0 2.5, 30.0 "
                    "4.0, 19.714285714285715 16.0, 16.0 16.0))', None, "
                    '321.0, 116.78571428571429, 0.36381842456608815, 1)'],
 'clip-null-ymin': ["('t00', 'i0', 1, 'POLYGON ((0.0 0.0, 10.0 0.0, 10.0 "
                    "10.0, 0.0 10.0, 0.0 0.0))', None, 100.0, 100.0, 1.0, 0)",
                    "('t00', 'i0', 2, 'POLYGON ((0.0 16.0, 0.0 0.0, 16.0 "
                    '0.0, 16.0 16.0, 0.0 16.0), (5.0 5.0, 5.0 15.0, 15.0 '
                    "15.0, 15.0 5.0, 5.0 5.0))', None, 300.0, 156.0, 0.52, "
                    '1)',
                    "('t00', 'i0', 3, 'POLYGON ((8.25 16.0, 2.0 1.0, 16.0 "
                    "2.5, 16.0 16.0, 8.25 16.0))', None, 321.0, 152.625, "
                    '0.47546728971962615, 1)',
                    "('t01', 'i0', 2, 'POLYGON ((0.0 16.0, 16.0 16.0, 16.0 "
                    "20.0, 0.0 20.0, 0.0 16.0))', None, 300.0, 64.0, "
                    '0.21333333333333335, 1)',
                    "('t01', 'i0', 3, 'POLYGON ((8.25 16.0, 16.0 16.0, 16.0 "
                    "20.333333333333332, 12.0 25.0, 8.25 16.0))', None, "
                    '321.0, 43.54166666666666, 0.13564382139148493, 1)',
                    "('t10', 'i0', 2, 'POLYGON ((16.0 16.0, 16.0 0.0, 20.0 "
                    "0.0, 20.0 16.0, 16.0 16.0))', None, 300.0, 64.0, "
                    '0.21333333333333335, 1)',
                    "('t10', 'i0', 3, 'POLYGON ((16.0 16.0, 16.0 2.5, 30.0 "
                    "4.0, 19.714285714285715 16.0, 16.0 16.0))', None, "
                    '321.0, 116.78571428571429, 0.36381842456608815, 1)'],
 'clip-tile_px': ["('t00', 'i0', 1, 'POLYGON ((0.0 0.0, 10.0 0.0, 10.0 10.0, "
                  "0.0 10.0, 0.0 0.0))', 'POLYGON ((0.0 8.0, 5.0 8.0, 5.0 "
                  "3.0, 0.0 3.0, 0.0 8.0))', 100.0, 100.0, 1.0, 0)",
                  "('t00', 'i0', 2, 'POLYGON ((0.0 16.0, 0.0 0.0, 16.0 0.0, "
                  '16.0 16.0, 0.0 16.0), (5.0 5.0, 5.0 15.0, 15.0 15.0, 15.0 '
                  "5.0, 5.0 5.0))', 'POLYGON ((0.0 0.0, 0.0 8.0, 8.0 8.0, "
                  '8.0 0.0, 0.0 0.0), (2.5 5.5, 2.5 0.5, 7.5 0.5, 7.5 5.5, '
                  "2.5 5.5))', 300.0, 156.0, 0.52, 1)",
                  "('t00', 'i0', 3, 'POLYGON ((8.25 16.0, 2.0 1.0, 16.0 2.5, "
                  "16.0 16.0, 8.25 16.0))', 'POLYGON ((4.125 0.0, 1.0 7.5, "
                  "8.0 6.75, 8.0 0.0, 4.125 0.0))', 321.0, 152.625, "
                  '0.47546728971962615, 1)',
                  "('t01', 'i0', 2, 'POLYGON ((0.0 16.0, 16.0 16.0, 16.0 "
                  "20.0, 0.0 20.0, 0.0 16.0))', 'POLYGON ((0.0 8.0, 8.0 8.0, "
                  "8.0 6.0, 0.0 6.0, 0.0 8.0))', 300.0, 64.0, "
                  '0.21333333333333335, 1)',
                  "('t01', 'i0', 3, 'POLYGON ((8.25 16.0, 16.0 16.0, 16.0 "
                  "20.333333333333332, 12.0 25.0, 8.25 16.0))', 'POLYGON "
                  '((4.125 8.0, 8.0 8.0, 8.0 5.833333333333334, 6.0 3.5, '
                  "4.125 8.0))', 321.0, 43.54166666666666, "
                  '0.13564382139148493, 1)',
                  "('t10', 'i0', 2, 'POLYGON ((16.0 16.0, 16.0 0.0, 20.0 "
                  "0.0, 20.0 16.0, 16.0 16.0))', 'POLYGON ((0.0 0.0, 0.0 "
                  "8.0, 2.0 8.0, 2.0 0.0, 0.0 0.0))', 300.0, 64.0, "
                  '0.21333333333333335, 1)',
                  "('t10', 'i0', 3, 'POLYGON ((16.0 16.0, 16.0 2.5, 30.0 "
                  "4.0, 19.714285714285715 16.0, 16.0 16.0))', 'POLYGON "
                  '((0.0 0.0, 0.0 6.75, 7.0 6.0, 1.8571428571428577 0.0, 0.0 '
                  "0.0))', 321.0, 116.78571428571429, 0.36381842456608815, "
                  '1)',
                  "('t11', 'i0', 2, 'POLYGON ((16.0 16.0, 20.0 16.0, 20.0 "
                  "20.0, 16.0 20.0, 16.0 16.0))', 'POLYGON ((0.0 8.0, 2.0 "
                  "8.0, 2.0 6.0, 0.0 6.0, 0.0 8.0))', 300.0, 16.0, "
                  '0.05333333333333334, 1)',
                  "('t11', 'i0', 3, 'POLYGON ((16.0 16.0, 19.714285714285715 "
                  "16.0, 16.0 20.333333333333332, 16.0 16.0))', 'POLYGON "
                  '((0.0 8.0, 1.8571428571428577 8.0, 0.0 5.833333333333334, '
                  "0.0 8.0))', 321.0, 8.047619047619047, "
                  '0.02507046432280077, 1)'],
 'conv-base': ["('i0', 0, 1, [0.0, 0.0, 10.0, 0.0, 10.0, 10.0, 0.0, 10.0, "
               '0.0, 0.0], [0.0, 0.0, 10.0, 10.0], 100.0)',
               "('i0', 1, 1, [0.0, 0.0, 20.0, 0.0, 20.0, 20.0, 0.0, 20.0, "
               '0.0, 0.0], [0.0, 0.0, 20.0, 20.0], 400.0)',
               "('i0', 2, 1, [2.0, 1.0, 30.0, 4.0, 12.0, 25.0, 2.0, 1.0], "
               '[2.0, 1.0, 28.0, 24.0], 321.0)'],
 'conv-multipolygon': ('error', 'ValueError'),
 'conv-null-wkt_pix': ["('i0', 0, 1, [0.0, 0.0, 10.0, 0.0, 10.0, 10.0, 0.0, "
                       '10.0, 0.0, 0.0], [0.0, 0.0, 10.0, 10.0], 100.0)',
                       "('i0', 1, 1, None, None, None)"],
 'geom_stats-base': ["('i0', 1, 0.3125, 0.3125, 0.625, 0.625)",
                     "('i0', 2, 0.625, 0.625, 1.25, 1.25)",
                     "('i1', 3, 0.4, 0.65, 0.7, 1.2)"],
 'geom_stats-empty-wkt_pix': ["('i0', 1, 0.3125, 0.3125, 0.625, 0.625)",
                              "('i0', 2, 0.625, 0.625, 1.25, 1.25)"],
 'geom_stats-null-im_h': ["('i0', 1, 0.3125, 0.3125, 0.625, 0.625)",
                          "('i0', 2, 0.625, 0.625, 1.25, 1.25)"],
 'geom_stats-null-im_w': ["('i0', 1, 0.3125, 0.3125, 0.625, 0.625)",
                          "('i0', 2, 0.625, 0.625, 1.25, 1.25)"],
 'geom_stats-null-wkt_pix': ["('i0', 1, 0.3125, 0.3125, 0.625, 0.625)",
                             "('i0', 2, 0.625, 0.625, 1.25, 1.25)"],
 'pip-base': ["(1, 1.0, 1.0, 100, 'POLYGON ((0 0, 20 0, 20 20, 0 20, 0 0), "
              "(5 5, 5 15, 15 15, 15 5, 5 5))', 0.0, 0.0, 20.0, 20.0)",
              "(1, 1.0, 1.0, 101, 'POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))', "
              '0.0, 0.0, 10.0, 10.0)',
              "(2, 5.0, 5.0, 101, 'POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))', "
              '0.0, 0.0, 10.0, 10.0)',
              "(3, 12.0, 3.0, 100, 'POLYGON ((0 0, 20 0, 20 20, 0 20, 0 0), "
              "(5 5, 5 15, 15 15, 15 5, 5 5))', 0.0, 0.0, 20.0, 20.0)",
              "(4, 9.5, 9.5, 101, 'POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))', "
              '0.0, 0.0, 10.0, 10.0)',
              "(5, 16.0, 16.0, 100, 'POLYGON ((0 0, 20 0, 20 20, 0 20, 0 0), "
              "(5 5, 5 15, 15 15, 15 5, 5 5))', 0.0, 0.0, 20.0, 20.0)"],
 'pip-null-wkt': ["(1, 1.0, 1.0, 100, 'POLYGON ((0 0, 20 0, 20 20, 0 20, 0 "
                  "0), (5 5, 5 15, 15 15, 15 5, 5 5))', 0.0, 0.0, 20.0, "
                  '20.0)',
                  "(3, 12.0, 3.0, 100, 'POLYGON ((0 0, 20 0, 20 20, 0 20, 0 "
                  "0), (5 5, 5 15, 15 15, 15 5, 5 5))', 0.0, 0.0, 20.0, "
                  '20.0)',
                  "(5, 16.0, 16.0, 100, 'POLYGON ((0 0, 20 0, 20 20, 0 20, 0 "
                  "0), (5 5, 5 15, 15 15, 15 5, 5 5))', 0.0, 0.0, 20.0, "
                  '20.0)'],
 'pip-null-x': ["(1, 1.0, 1.0, 100, 'POLYGON ((0 0, 20 0, 20 20, 0 20, 0 0), "
                "(5 5, 5 15, 15 15, 15 5, 5 5))', 0.0, 0.0, 20.0, 20.0)",
                "(1, 1.0, 1.0, 101, 'POLYGON ((0 0, 10 0, 10 10, 0 10, 0 "
                "0))', 0.0, 0.0, 10.0, 10.0)",
                "(2, 5.0, 5.0, 101, 'POLYGON ((0 0, 10 0, 10 10, 0 10, 0 "
                "0))', 0.0, 0.0, 10.0, 10.0)",
                "(3, 12.0, 3.0, 100, 'POLYGON ((0 0, 20 0, 20 20, 0 20, 0 "
                "0), (5 5, 5 15, 15 15, 15 5, 5 5))', 0.0, 0.0, 20.0, 20.0)",
                "(4, 9.5, 9.5, 101, 'POLYGON ((0 0, 10 0, 10 10, 0 10, 0 "
                "0))', 0.0, 0.0, 10.0, 10.0)"],
 'pip-null-y': ["(1, 1.0, 1.0, 100, 'POLYGON ((0 0, 20 0, 20 20, 0 20, 0 0), "
                "(5 5, 5 15, 15 15, 15 5, 5 5))', 0.0, 0.0, 20.0, 20.0)",
                "(1, 1.0, 1.0, 101, 'POLYGON ((0 0, 10 0, 10 10, 0 10, 0 "
                "0))', 0.0, 0.0, 10.0, 10.0)",
                "(2, 5.0, 5.0, 101, 'POLYGON ((0 0, 10 0, 10 10, 0 10, 0 "
                "0))', 0.0, 0.0, 10.0, 10.0)",
                "(3, 12.0, 3.0, 100, 'POLYGON ((0 0, 20 0, 20 20, 0 20, 0 "
                "0), (5 5, 5 15, 15 15, 15 5, 5 5))', 0.0, 0.0, 20.0, 20.0)",
                "(4, 9.5, 9.5, 101, 'POLYGON ((0 0, 10 0, 10 10, 0 10, 0 "
                "0))', 0.0, 0.0, 10.0, 10.0)"],
 'probe-null-qv': ['(1, 10, 1, 0.9914852360407972)',
                   '(1, 13, 2, 0.8734422932544689)'],
 'rnd-base': ["(0, 'POLYGON ((0.1 0.5, 10.6 0.0, 10.0 11.0, 0.1 0.5))')",
              "(1, 'MULTIPOLYGON (((0.1 0.0, 4.4 0.0, 4.0 4.0, 0.1 0.0)))')",
              "(2, 'LINESTRING (1.2 2.3, 3.5 4.6)')"],
 'rnd-null-wkt': ["(0, 'POLYGON ((0.1 0.5, 10.6 0.0, 10.0 11.0, 0.1 0.5))')",
                  '(1, None)'],
 'split-base': ["('i0', 'LINESTRING (0.0 0.0, 1.0 1.0, 2.0 1.0)', 1)",
                "('i0', 'LINESTRING (5.0 5.0, 6.0 7.0)', 2)",
                "('i0', 'POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))', 3)",
                "('i0', 'POLYGON ((0.0 0.0, 4.0 0.0, 4.0 4.0, 0.0 4.0, 0.0 "
                "0.0))', 4)",
                "('i0', 'POLYGON ((10.0 10.0, 14.0 10.0, 14.0 14.0, 10.0 "
                "10.0))', 5)"],
 'split-null-wkt': ["('i0', 'POLYGON ((0.0 0.0, 4.0 0.0, 4.0 4.0, 0.0 4.0, "
                    "0.0 0.0))', 1)",
                    "('i0', 'POLYGON ((10.0 10.0, 14.0 10.0, 14.0 14.0, 10.0 "
                    "10.0))', 2)"],
 'srp_sketch-base': ['(1, 2, 0.9999523843534716)'],
 'srp_sketch-null-embedding': ['(1, 2, 0.9999523843534716)'],
 'to_geo-base': ["('i0', 1, 'POLYGON ((500000.0 4000000.0, 500005.0 "
                 '4000000.0, 500005.0 3999995.0, 500000.0 3999995.0, '
                 "500000.0 4000000.0))', [500000.0, 3999995.0, 500005.0, "
                 '4000000.0])',
                 "('i0', 2, 'POLYGON ((500000.0 4000000.0, 500010.0 "
                 '4000000.0, 500010.0 3999990.0, 500000.0 3999990.0, '
                 '500000.0 4000000.0), (500002.5 3999997.5, 500002.5 '
                 '3999992.5, 500007.5 3999992.5, 500007.5 3999997.5, '
                 "500002.5 3999997.5))', [500000.0, 3999990.0, 500010.0, "
                 '4000000.0])',
                 "('i1', 3, 'POLYGON ((1000.95 2000.55, 1009.65 2001.05, "
                 "1006.35 1993.85, 1000.95 2000.55))', [1000.95, 1993.85, "
                 '1009.65, 2001.05])'],
 'to_geo-empty-wkt_pix': ["('i0', 1, 'POLYGON ((500000.0 4000000.0, 500005.0 "
                          '4000000.0, 500005.0 3999995.0, 500000.0 3999995.0, '
                          "500000.0 4000000.0))', [500000.0, 3999995.0, "
                          '500005.0, 4000000.0])',
                          "('i0', 2, 'POLYGON ((500000.0 4000000.0, 500010.0 "
                          '4000000.0, 500010.0 3999990.0, 500000.0 3999990.0, '
                          '500000.0 4000000.0), (500002.5 3999997.5, 500002.5 '
                          '3999992.5, 500007.5 3999992.5, 500007.5 3999997.5, '
                          "500002.5 3999997.5))', [500000.0, 3999990.0, "
                          '500010.0, 4000000.0])',
                          "('i1', 3, '', [None, None, None, None])"],
 'to_geo-null-a': ["('i0', 1, 'POLYGON ((500000.0 4000000.0, 500005.0 "
                   '4000000.0, 500005.0 3999995.0, 500000.0 3999995.0, '
                   "500000.0 4000000.0))', [500000.0, 3999995.0, 500005.0, "
                   '4000000.0])',
                   "('i0', 2, 'POLYGON ((500000.0 4000000.0, 500010.0 "
                   '4000000.0, 500010.0 3999990.0, 500000.0 3999990.0, '
                   '500000.0 4000000.0), (500002.5 3999997.5, 500002.5 '
                   '3999992.5, 500007.5 3999992.5, 500007.5 3999997.5, '
                   "500002.5 3999997.5))', [500000.0, 3999990.0, 500010.0, "
                   '4000000.0])',
                   "('i1', 3, None, None)"],
 'to_geo-null-b': ["('i0', 1, 'POLYGON ((500000.0 4000000.0, 500005.0 "
                   '4000000.0, 500005.0 3999995.0, 500000.0 3999995.0, '
                   "500000.0 4000000.0))', [500000.0, 3999995.0, 500005.0, "
                   '4000000.0])',
                   "('i0', 2, 'POLYGON ((500000.0 4000000.0, 500010.0 "
                   '4000000.0, 500010.0 3999990.0, 500000.0 3999990.0, '
                   '500000.0 4000000.0), (500002.5 3999997.5, 500002.5 '
                   '3999992.5, 500007.5 3999992.5, 500007.5 3999997.5, '
                   "500002.5 3999997.5))', [500000.0, 3999990.0, 500010.0, "
                   '4000000.0])',
                   "('i1', 3, None, None)"],
 'to_geo-null-c': ["('i0', 1, 'POLYGON ((500000.0 4000000.0, 500005.0 "
                   '4000000.0, 500005.0 3999995.0, 500000.0 3999995.0, '
                   "500000.0 4000000.0))', [500000.0, 3999995.0, 500005.0, "
                   '4000000.0])',
                   "('i0', 2, 'POLYGON ((500000.0 4000000.0, 500010.0 "
                   '4000000.0, 500010.0 3999990.0, 500000.0 3999990.0, '
                   '500000.0 4000000.0), (500002.5 3999997.5, 500002.5 '
                   '3999992.5, 500007.5 3999992.5, 500007.5 3999997.5, '
                   "500002.5 3999997.5))', [500000.0, 3999990.0, 500010.0, "
                   '4000000.0])',
                   "('i1', 3, None, None)"],
 'to_geo-null-d': ["('i0', 1, 'POLYGON ((500000.0 4000000.0, 500005.0 "
                   '4000000.0, 500005.0 3999995.0, 500000.0 3999995.0, '
                   "500000.0 4000000.0))', [500000.0, 3999995.0, 500005.0, "
                   '4000000.0])',
                   "('i0', 2, 'POLYGON ((500000.0 4000000.0, 500010.0 "
                   '4000000.0, 500010.0 3999990.0, 500000.0 3999990.0, '
                   '500000.0 4000000.0), (500002.5 3999997.5, 500002.5 '
                   '3999992.5, 500007.5 3999992.5, 500007.5 3999997.5, '
                   "500002.5 3999997.5))', [500000.0, 3999990.0, 500010.0, "
                   '4000000.0])',
                   "('i1', 3, None, None)"],
 'to_geo-null-e': ["('i0', 1, 'POLYGON ((500000.0 4000000.0, 500005.0 "
                   '4000000.0, 500005.0 3999995.0, 500000.0 3999995.0, '
                   "500000.0 4000000.0))', [500000.0, 3999995.0, 500005.0, "
                   '4000000.0])',
                   "('i0', 2, 'POLYGON ((500000.0 4000000.0, 500010.0 "
                   '4000000.0, 500010.0 3999990.0, 500000.0 3999990.0, '
                   '500000.0 4000000.0), (500002.5 3999997.5, 500002.5 '
                   '3999992.5, 500007.5 3999992.5, 500007.5 3999997.5, '
                   "500002.5 3999997.5))', [500000.0, 3999990.0, 500010.0, "
                   '4000000.0])',
                   "('i1', 3, None, None)"],
 'to_geo-null-f': ["('i0', 1, 'POLYGON ((500000.0 4000000.0, 500005.0 "
                   '4000000.0, 500005.0 3999995.0, 500000.0 3999995.0, '
                   "500000.0 4000000.0))', [500000.0, 3999995.0, 500005.0, "
                   '4000000.0])',
                   "('i0', 2, 'POLYGON ((500000.0 4000000.0, 500010.0 "
                   '4000000.0, 500010.0 3999990.0, 500000.0 3999990.0, '
                   '500000.0 4000000.0), (500002.5 3999997.5, 500002.5 '
                   '3999992.5, 500007.5 3999992.5, 500007.5 3999997.5, '
                   "500002.5 3999997.5))', [500000.0, 3999990.0, 500010.0, "
                   '4000000.0])',
                   "('i1', 3, None, None)"],
 'to_geo-null-wkt_pix': ["('i0', 1, 'POLYGON ((500000.0 4000000.0, 500005.0 "
                         '4000000.0, 500005.0 3999995.0, 500000.0 3999995.0, '
                         "500000.0 4000000.0))', [500000.0, 3999995.0, "
                         '500005.0, 4000000.0])',
                         "('i0', 2, 'POLYGON ((500000.0 4000000.0, 500010.0 "
                         '4000000.0, 500010.0 3999990.0, 500000.0 3999990.0, '
                         '500000.0 4000000.0), (500002.5 3999997.5, 500002.5 '
                         '3999992.5, 500007.5 3999992.5, 500007.5 3999997.5, '
                         "500002.5 3999997.5))', [500000.0, 3999990.0, "
                         '500010.0, 4000000.0])',
                         "('i1', 3, None, None)"],
 'tok-base': ["(1, 37.7749, -122.4194, 'f4_31_151@10')",
              "(2, -33.8688, 151.2093, 'f3_929_190@10')",
              "(3, 0.0, 0.0, 'f0_512_512@10')"],
 'tok-null-lat': ["(1, 37.7749, -122.4194, 'f4_31_151@10')",
                  "(2, -33.8688, 151.2093, 'f3_929_190@10')",
                  '(3, None, 0.0, None)'],
 'tok-null-lng': ["(1, 37.7749, -122.4194, 'f4_31_151@10')",
                  "(2, -33.8688, 151.2093, 'f3_929_190@10')",
                  '(3, 0.0, None, None)'],
 'verts-base': ['(1, 0.0, 0.0)',
                '(1, 1, 5, 5.0)',
                '(1, 5, 8, 5.0)',
                '(2, 0.04, 0.01)',
                '(2, 1, 3, 1.4142135623730951)',
                '(2, 3, 4, 1.0)',
                '(2, 6, 7, 2.23606797749979)',
                '(3, 1.0, 1.0)',
                '(3, 2, 5, 4.968068034960874)',
                '(4, 2.0, 1.0)',
                '(5, 3.0, 4.0)',
                '(6, 5.0, 5.0)',
                '(7, 6.0, 7.0)',
                '(8, 6.0, 8.0)'],
 'verts-null-wkt': ['(1, 0.0, 0.0)',
                    '(1, 1, 4, 5.0)',
                    '(1, 4, 7, 5.0)',
                    '(2, 1, 2, 1.4142135623730951)',
                    '(2, 1.0, 1.0)',
                    '(2, 2, 3, 1.0)',
                    '(2, 5, 6, 2.23606797749979)',
                    '(3, 2.0, 1.0)',
                    '(4, 3.0, 4.0)',
                    '(5, 5.0, 5.0)',
                    '(6, 6.0, 7.0)',
                    '(7, 6.0, 8.0)'],
 'verts-precision': ['(1, 0.0, 0.0)',
                     '(1, 1, 4, 5.0)',
                     '(1, 4, 7, 5.0)',
                     '(2, 1, 2, 1.4142135623730951)',
                     '(2, 1.0, 1.0)',
                     '(2, 2, 3, 1.0)',
                     '(2, 5, 6, 2.23606797749979)',
                     '(3, 1, 4, 5.0)',
                     '(3, 2.0, 1.0)',
                     '(4, 3.0, 4.0)',
                     '(5, 5.0, 5.0)',
                     '(6, 6.0, 7.0)',
                     '(7, 6.0, 8.0)']}
