"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Determinism notes (Spark vs DuckDB float parity):
- money/quantity aggregates go through DECIMAL(18,2) sums (exact, order-
  independent) then cast to double — bit-identical in both engines;
- ratios are computed from those exact doubles with ROUND(x, 6) on both
  sides;
- hash-based ops (minhash/simhash/fingerprints) use
  md5-hex-substring → integer, computable identically in both engines.

Geometry/pipeline operators that SQL cannot express (tiling, rasterization,
greedy IoU matching, spatial kNN, phash LSH over synthesized images) are
exposed as rows-only entries (no oracle) — their exactness is covered by
the pytest fixture-parity suite instead (tests/, BASELINE.md).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dec(col):
    return col.cast("decimal(18,2)")


# ---------------------------------------------------------------------------
# entry — flagship: spatial tile+mask+match pipeline on a deterministic
# synthetic image table, plus scan stats of the sf0.001 relational tables.
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    sf_dir = "/root/testdata/sf0.001"
    from solaris_spark.operators import evalops, masks, tiling
    from solaris_spark.sources import synth

    images = synth.images_table(spark, 8, include_fixture=True)
    geo = synth.image_geo_table(spark, images)
    ig = tiling.with_geo(images, geo)
    tiles = tiling.raster_tiles(ig, (90, 90))
    labels = synth.labels_table(spark, images)
    lg = tiling.labels_geo(labels, geo)
    grid = tiling.tile_grid(ig, (90, 90))
    ltiles = tiling.vector_tiles(lg, grid)
    fp = masks.image_masks(labels, ig, channels=["footprint"])

    li = _load(spark, sf_dir, "lineitem")
    docs = _load(spark, sf_dir, "documents")

    rows = [
        ("images", images.count()),
        ("raster_tiles", tiles.count()),
        ("grid_tiles", grid.count()),
        ("label_tiles", ltiles.count()),
        ("footprint_masks", fp.count()),
        ("lineitem_rows", li.count()),
        ("documents_rows", docs.count()),
    ]
    return spark.createDataFrame(rows, "metric string, value long")


# ---------------------------------------------------------------------------
# Relational queries (SURVEY §2 operator analogues) with DuckDB oracles
# ---------------------------------------------------------------------------


def q_pricing_rollup(spark, sf_dir):
    """TPC-H-Q1-shaped groupBy agg — AOI rollup pattern (challenges.py:62)."""
    li = _load(spark, sf_dir, "lineitem")
    out = (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
           .groupBy("l_returnflag", "l_linestatus")
           .agg(F.sum(_dec(F.col("l_quantity"))).alias("_sq"),
                F.sum(_dec(F.col("l_extendedprice"))).alias("_sp"),
                F.count(F.lit(1)).alias("count_order"))
           .select("l_returnflag", "l_linestatus",
                   F.col("_sq").cast("double").alias("sum_qty"),
                   F.col("_sp").cast("double").alias("sum_base_price"),
                   "count_order")
           .orderBy("l_returnflag", "l_linestatus"))
    return out


SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       COUNT(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_score_rollup(spark, sf_dir):
    """Per-group conditional-count scores + P/R/F1 recompute — the
    eval/base.py:157-206 + challenges.py:62-87 pattern on lineitem."""
    li = _load(spark, sf_dir, "lineitem")
    agg = (li.groupBy("l_returnflag")
           .agg(F.sum(F.when(F.col("l_quantity") >= 25, 1).otherwise(0)).alias("tp"),
                F.sum(F.when((F.col("l_quantity") < 25)
                             & (F.col("l_discount") > 0.05), 1).otherwise(0)).alias("fp"),
                F.sum(F.when((F.col("l_quantity") < 25)
                             & (F.col("l_discount") <= 0.05), 1).otherwise(0)).alias("fn")))
    p = F.col("tp") / (F.col("tp") + F.col("fp"))
    r = F.col("tp") / (F.col("tp") + F.col("fn"))
    return (agg.withColumn("precision", F.round(p, 6))
            .withColumn("recall", F.round(r, 6))
            .withColumn("f1", F.round(2 * p * r / (p + r), 6))
            .orderBy("l_returnflag"))


SQL_SCORE = """
WITH agg AS (
  SELECT l_returnflag,
         CAST(SUM(CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN l_quantity < 25 AND l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN l_quantity < 25 AND l_discount <= 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag, tp, fp, fn,
       ROUND(tp / (tp + fp), 6) AS precision,
       ROUND(tp / (tp + fn), 6) AS recall,
       ROUND(2 * (tp/(tp+fp)) * (tp/(tp+fn)) / ((tp/(tp+fp)) + (tp/(tp+fn))), 6) AS f1
FROM agg ORDER BY l_returnflag
"""


def q_topk_per_group(spark, sf_dir):
    """Window top-k per group — top-1 IoU / kNN rank pattern
    (eval/base.py:132-134 → row_number <= k)."""
    li = _load(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        F.desc("l_extendedprice"), F.asc("l_linenumber"))
    out = (li.filter(F.col("l_orderkey") <= 1000)
           .withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= 2)
           .select("l_orderkey", "l_linenumber", "rank",
                   F.col("l_extendedprice").alias("price"))
           .orderBy("l_orderkey", "rank"))
    return out


SQL_TOPK = """
SELECT l_orderkey, l_linenumber, rank, price FROM (
  SELECT l_orderkey, l_linenumber, l_extendedprice AS price,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey
                            ORDER BY l_extendedprice DESC, l_linenumber ASC) AS rank
  FROM lineitem WHERE l_orderkey <= 1000) t
WHERE rank <= 2 ORDER BY l_orderkey, rank
"""


def q_conf_cumsum(spark, sf_dir):
    """Cumulative counts in conf-desc order — the mAP running-sum pattern
    (eval/vector.py:484-492).  Computed as a DISTRIBUTED prefix sum
    (plans/prefix.py: range-bucket the ordering key, per-bucket window,
    literal bucket offsets) — the single-partition Window.orderBy plan
    this replaces moves every row to one task at scale."""
    from solaris_spark.plans.prefix import global_running_agg
    # project to the 2 needed columns BEFORE the prefix machinery: the
    # bucketed frame is shuffled/windowed, so dropping the other 7 orders
    # columns shrinks every exchange (guide §2.3 "project before the
    # exchange"); output is unchanged.
    o = (_load(spark, sf_dir, "orders")
         .filter(F.col("o_orderkey") <= 2000)
         .select("o_orderkey", "o_totalprice"))
    out = global_running_agg(
        o, "o_totalprice",
        {"cum_n": F.lit(1), "cum_price_d": _dec(F.col("o_totalprice"))},
        ascending=False, tie_cols=("o_orderkey",))
    return (out.withColumn("cum_price", F.col("cum_price_d").cast("double"))
            .select("o_orderkey", "cum_n", "cum_price")
            .orderBy("o_orderkey"))


SQL_CUMSUM = """
SELECT o_orderkey,
       COUNT(*) OVER w AS cum_n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS cum_price
FROM orders WHERE o_orderkey <= 2000
WINDOW w AS (ORDER BY o_totalprice DESC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY o_orderkey
"""


def q_broadcast_lookup(spark, sf_dir):
    """Broadcast dim lookup — AOI-bin lookup join (challenges.py:144-177)."""
    c = _load(spark, sf_dir, "customer")
    n = _load(spark, sf_dir, "nation")
    r = _load(spark, sf_dir, "region")
    o = _load(spark, sf_dir, "orders")
    out = (o.join(c, o.o_custkey == c.c_custkey)
           .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
           .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
           .groupBy("r_name")
           .agg(F.count(F.lit(1)).alias("n_orders"),
                F.sum(_dec(F.col("o_totalprice"))).cast("double").alias("revenue"))
           .orderBy("r_name"))
    return out


SQL_BROADCAST = """
SELECT r_name, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
"""


def q_set_ops(spark, sf_dir):
    """Set difference — scot change-detection sets (eval/scot.py:135-138)."""
    o = _load(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    b = o.filter(F.col("o_orderpriority") == "5-LOW").select("o_custkey")
    out = (a.distinct().exceptAll(b.distinct())
           .withColumnRenamed("o_custkey", "custkey")
           .orderBy("custkey"))
    return out


SQL_SETOPS = """
SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
ORDER BY custkey
"""


def q_semi_anti(spark, sf_dir):
    """Semi + anti join — overlapping-subset semi-join
    (vector/polygon.py:261-326) and empty-tile anti-join
    (vector_tile.py:109-112)."""
    s = _load(spark, sf_dir, "supplier")
    li = _load(spark, sf_dir, "lineitem")
    big = li.filter(F.col("l_quantity") >= 45).select("l_suppkey").distinct()
    withq = s.join(big, s.s_suppkey == big.l_suppkey, "left_semi")
    without = s.join(big, s.s_suppkey == big.l_suppkey, "left_anti")
    out = (withq.select(F.lit("has_bulk").alias("kind"), "s_nationkey")
           .unionByName(without.select(F.lit("no_bulk").alias("kind"), "s_nationkey"))
           .groupBy("kind", "s_nationkey").agg(F.count(F.lit(1)).alias("n"))
           .orderBy("kind", "s_nationkey"))
    return out


SQL_SEMIANTI = """
WITH big AS (SELECT DISTINCT l_suppkey FROM lineitem WHERE l_quantity >= 45)
SELECT kind, s_nationkey, COUNT(*) AS n FROM (
  SELECT 'has_bulk' AS kind, s_nationkey FROM supplier
  WHERE s_suppkey IN (SELECT l_suppkey FROM big)
  UNION ALL
  SELECT 'no_bulk' AS kind, s_nationkey FROM supplier
  WHERE s_suppkey NOT IN (SELECT l_suppkey FROM big)) t
GROUP BY kind, s_nationkey ORDER BY kind, s_nationkey
"""


def q_percentiles(spark, sf_dir):
    """Exact interpolated percentiles — t-digest analogue
    (raster/image.py:226-306 → built-in percentile)."""
    # project to the 3 needed columns; deliberately NOT rebalanced: the
    # serial floor of exact percentile is the per-group final merge+sort
    # (3 groups), so a pre-shuffle only adds cost — measured plain 1.09s
    # vs repartition(32) 1.23s warm at sf0.1 (OPTIMIZATION_r06.md)
    li = _load(spark, sf_dir, "lineitem") \
        .select("l_returnflag", "l_quantity", "l_extendedprice")
    out = (li.groupBy("l_returnflag")
           .agg(F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("p50"),
                F.round(F.expr("percentile(l_quantity, 0.9)"), 6).alias("p90"),
                F.round(F.expr("percentile(l_extendedprice, 0.25)"), 6).alias("price_p25"))
           .orderBy("l_returnflag"))
    return out


SQL_PERCENTILES = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_quantity, 0.5), 6) AS p50,
       ROUND(quantile_cont(l_quantity, 0.9), 6) AS p90,
       ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS price_p25
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_grouping_rollup(spark, sf_dir):
    """SQL ROLLUP — two-level image→AOI rollup generalization (SURVEY §2.4)."""
    c = _load(spark, sf_dir, "customer")
    n = _load(spark, sf_dir, "nation")
    out = (c.join(n, c.c_nationkey == n.n_nationkey)
           .rollup("n_regionkey", "n_name")
           .agg(F.count(F.lit(1)).alias("n_cust"),
                F.sum(_dec(F.col("c_acctbal"))).cast("double").alias("acctbal"))
           .select(F.coalesce(F.col("n_regionkey").cast("string"),
                              F.lit("ALL")).alias("regionkey"),
                   F.coalesce("n_name", F.lit("ALL")).alias("nation"),
                   "n_cust", "acctbal")
           .orderBy("regionkey", "nation"))
    return out


SQL_ROLLUP = """
SELECT COALESCE(CAST(n_regionkey AS VARCHAR), 'ALL') AS regionkey,
       COALESCE(n_name, 'ALL') AS nation,
       COUNT(*) AS n_cust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY ROLLUP (n_regionkey, n_name)
ORDER BY regionkey, nation
"""


def q_bounds_agg(spark, sf_dir):
    """min/max bounds aggregate — geometry.total_bounds analogue
    (utils/geo.py:204)."""
    li = _load(spark, sf_dir, "lineitem")
    out = (li.groupBy((F.col("l_partkey") % 10).alias("bucket"))
           .agg(F.min("l_quantity").alias("qmin"),
                F.max("l_quantity").alias("qmax"),
                F.min("l_extendedprice").alias("pmin"),
                F.max("l_extendedprice").alias("pmax"))
           .orderBy("bucket"))
    return out


SQL_BOUNDS = """
SELECT l_partkey % 10 AS bucket,
       MIN(l_quantity) AS qmin, MAX(l_quantity) AS qmax,
       MIN(l_extendedprice) AS pmin, MAX(l_extendedprice) AS pmax
FROM lineitem GROUP BY 1 ORDER BY bucket
"""


def q_event_windows(spark, sf_dir):
    """Tumbling event-time windows (batch equivalent of a streaming
    windowed agg)."""
    e = _load(spark, sf_dir, "events")
    out = (e.groupBy(F.date_trunc("day", F.col("ts")).alias("day"), "event_type")
           .agg(F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 4).alias("sum_value"))
           .withColumn("day", F.date_format("day", "yyyy-MM-dd"))
           .orderBy("day", "event_type"))
    return out


SQL_EVENT_WINDOWS = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
       COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY day, event_type
"""


# ---------------------------------------------------------------------------
# Training-data pipeline ops over documents / embeddings
# ---------------------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    """Exact dedup via content-hash groupBy.  The corpus is unioned with a
    deterministic mirror copy (doc_id + 100000) so the dedup path has real
    duplicate groups to find; keeper = min doc_id per hash."""
    d = _load(spark, sf_dir, "documents").select("doc_id", "text")
    mirror = d.select((F.col("doc_id") + 100000).alias("doc_id"), "text") \
        .filter(F.col("doc_id") % 2 == 0)
    u = d.unionByName(mirror)
    from solaris_spark.operators import dedup
    return (dedup.exact_dedup(u)
            .filter(F.col("n_copies") > 1)
            .orderBy("keeper"))


SQL_DEDUP = """
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents
  WHERE (doc_id + 100000) % 2 = 0)
SELECT md5(text) AS content_hash, COUNT(*) AS n_copies, MIN(doc_id) AS keeper
FROM u GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY keeper
"""


_TRIGRAM_SPARK = ("array_distinct(transform(sequence(0, size(t)-3), "
                  "i -> concat_ws(' ', t[i], t[i+1], t[i+2])))")


def q_ngram_jaccard(spark, sf_dir):
    """Exact word-trigram Jaccard near-dup pairs ≥ 0.4 — shingle-explode
    equi-join (operators/dedup.ngram_jaccard_pairs)."""
    from solaris_spark.operators import dedup
    d = _load(spark, sf_dir, "documents")
    return (dedup.ngram_jaccard_pairs(d, threshold=0.4)
            .withColumn("jaccard", F.round("jaccard", 6))
            .orderBy("da", "db"))


SQL_NGRAM_JACCARD = """
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
      range(1, len(string_split(text,' '))-1),
      i -> concat_ws(' ', string_split(text,' ')[i],
                     string_split(text,' ')[i+1],
                     string_split(text,' ')[i+2])))) AS s
  FROM documents),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT da, db, ROUND(inter * 1.0 / (sa.n + sb.n - inter), 6) AS jaccard
FROM pairs JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.4
ORDER BY da, db
"""


_N_HASHES = 16  # minhash signature length (4 bands x 4 rows)


def q_minhash_lsh(spark, sf_dir):
    """MinHash + LSH near-dup: md5-derived hash family (identical in both
    engines), 16-hash signature, 4 bands → band-bucket join → candidate
    pairs.  Deterministic ⇒ SQL-oracle-able end to end."""
    from solaris_spark.operators import dedup
    d = _load(spark, sf_dir, "documents")
    return (dedup.minhash_lsh_pairs(d, n_hashes=_N_HASHES, bands=4)
            .orderBy("da", "db"))


def _sql_minhash_ctes() -> str:
    # Kirsch–Mitzenmacher double hashing: the whole family comes from ONE
    # md5 per shingle — h_i = (h1 + i·h2) mod 2^32 with h1/h2 = two 32-bit
    # digest words (mirrors dedup.minhash_signatures exactly).  Shared CTE
    # body (through `stacked`) between the pair oracle and the cluster
    # oracle so both recompute the identical hash family.
    hash_exprs = ",\n    ".join(
        "MIN((CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) + "
        f"{i} * CAST(concat('0x', substr(md5(s), 9, 8)) AS BIGINT)) "
        f"% 4294967296) AS m{i}"
        for i in range(_N_HASHES))
    band_exprs = ",\n    ".join(
        "concat_ws('_', " + ", ".join(f"CAST(m{b * 4 + j} AS VARCHAR)"
                                      for j in range(4)) + f") AS band{b}"
        for b in range(4))
    buckets = ", ".join(f"concat('{b}:', band{b})" for b in range(4))
    return f"""sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
      range(1, len(string_split(text,' '))-1),
      i -> concat_ws(' ', string_split(text,' ')[i],
                     string_split(text,' ')[i+1],
                     string_split(text,' ')[i+2])))) AS s
  FROM documents),
sig AS (
  SELECT doc_id,
    {hash_exprs}
  FROM sh GROUP BY doc_id),
bands AS (
  SELECT doc_id,
    {band_exprs}
  FROM sig),
stacked AS (
  SELECT doc_id, unnest([{buckets}]) AS bucket FROM bands)"""


def _sql_minhash() -> str:
    return f"""
WITH {_sql_minhash_ctes()}
SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
FROM stacked a JOIN stacked b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
ORDER BY da, db
"""


def q_dedup_clusters(spark, sf_dir):
    """Transitive near-dup CLUSTERS: MinHash+LSH pairs → connected
    components (alternating large-star/small-star contraction,
    O(log² n) rounds, diameter-independent) → cluster_id = min doc_id.
    The oracle recomputes identical clusters with a DuckDB recursive CTE
    (min-label transitive closure) over the same md5-derived pairs."""
    from solaris_spark.operators import dedup
    d = _load(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(d, n_hashes=_N_HASHES, bands=4)
    return dedup.dedup_clusters(d, pairs).orderBy("doc_id")


def _sql_dedup_clusters() -> str:
    # Recursive min-label walk over the symmetrized LSH pair graph:
    # UNION-dedup on (node, lbl) guarantees termination; MIN(lbl) per
    # node is the component minimum == the engine's star-contraction root.
    return f"""
WITH RECURSIVE {_sql_minhash_ctes()},
pairs AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM stacked a JOIN stacked b
    ON a.bucket = b.bucket AND a.doc_id < b.doc_id),
sym AS (
  SELECT da AS a, db AS b FROM pairs
  UNION SELECT db, da FROM pairs),
walk(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, w.lbl FROM walk w JOIN sym e ON e.a = w.node)
SELECT node AS doc_id, MIN(lbl) AS cluster_id
FROM walk GROUP BY node ORDER BY doc_id
"""


def q_simhash(spark, sf_dir):
    """32-bit SimHash per document from md5-derived token hashes —
    deterministic, SQL-oracle-able."""
    from solaris_spark.operators import dedup
    d = _load(spark, sf_dir, "documents")
    return dedup.simhash(d, bits=32).orderBy("doc_id")


SQL_SIMHASH = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
h AS (
  SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS h
  FROM tok),
bit AS (
  SELECT doc_id, b, CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END AS contrib
  FROM h, (SELECT unnest(range(0, 32)) AS b)),
agg AS (SELECT doc_id, b, SUM(contrib) AS sumc FROM bit GROUP BY 1, 2)
SELECT doc_id,
       CAST(SUM(CASE WHEN sumc > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
FROM agg GROUP BY doc_id ORDER BY doc_id
"""


def q_embedding_knn(spark, sf_dir):
    """Brute-force cosine top-k over the embedding column — the ANN
    baseline (IVF/LSH scale path in operators/ann.py)."""
    e = _load(spark, sf_dir, "embeddings")
    # r6 perf: norms are per-VECTOR quantities — computing them before the
    # cross join evaluates each one once instead of once per PAIR (the
    # expression and its fold order are unchanged, so the float values are
    # bit-identical to the joined evaluation); the 20-row query side is
    # spread so the pair scoring isn't one task (guide §2.5: the
    # single-row-group scan otherwise serializes the whole fold).
    # the element casts are also per-vector work: casting each side to a
    # double array ONCE (transform) before the join leaves the per-pair
    # fold as a bare multiply-accumulate — same products in the same fold
    # order, so cosine is bit-identical.  The 20-row bounded query set is
    # explicitly BROADCAST and the target side (the big one at scale) is
    # the STREAMED side, rebalanced to cluster width when its scan is
    # narrow — otherwise the planner may broadcast the target table and
    # stream the 20 queries through ONE task, serializing all pair
    # scoring (measured 8s single-task at 10× sf, guide §2.5/§3.1).
    from solaris_spark.plans.skew import ensure_parallelism
    norm = "sqrt(aggregate({0}, 0D, (acc, x) -> acc + x * x))"
    q = (e.filter(F.col("vec_id") < 20)
         .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"),
                 F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
                 .alias("qvd"))
         .withColumn("nq", F.expr(norm.format("qvd"))))
    t = ensure_parallelism(
        e.select(F.col("vec_id").alias("tid"), F.col("embedding").alias("tv"),
                 F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
                 .alias("tvd"))
        .withColumn("nt", F.expr(norm.format("tvd"))))
    j = t.crossJoin(F.broadcast(q)).filter(F.col("qid") != F.col("tid"))
    dot = F.expr("aggregate(zip_with(qvd, tvd, (a, b) -> a * b), 0D, (acc, x) -> acc + x)")
    j = j.withColumn("cosine", F.round(dot / (F.col("nq") * F.col("nt")), 6))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("tid"))
    return (j.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select("qid", "tid", "rank", "cosine")
            .orderBy("qid", "rank"))


SQL_EMB_KNN = """
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 20),
t AS (SELECT vec_id AS tid, embedding AS tv FROM embeddings),
j AS (
  SELECT qid, tid,
         ROUND(
           list_sum(list_transform(range(1, len(qv)+1),
                    i -> CAST(qv[i] AS DOUBLE) * CAST(tv[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(range(1, len(qv)+1),
                    i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))
            * sqrt(list_sum(list_transform(range(1, len(tv)+1),
                    i -> CAST(tv[i] AS DOUBLE) * CAST(tv[i] AS DOUBLE))))), 6) AS cosine
  FROM q, t WHERE qid <> tid),
r AS (SELECT qid, tid, cosine,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, tid ASC) AS rank
      FROM j)
SELECT qid, tid, rank, cosine FROM r WHERE rank <= 5 ORDER BY qid, rank
"""


def q_lang_id(spark, sf_dir):
    """Heuristic language ID: argmax stopword-hit ratio against a fixed
    lexicon (relational: token explode ⋈ broadcast lexicon ⋈ argmax)."""
    d = _load(spark, sf_dir, "documents")
    from solaris_spark.operators import text as textops
    return (textops.lang_id(d)
            .withColumn("hit_ratio", F.round("hit_ratio", 6))
            .orderBy("doc_id"))


SQL_LANG_ID = """
WITH lex(lang_guess, word) AS (VALUES
  ('en','the'),('en','a'),('en','data'),('en','value'),
  ('de','der'),('de','und'),('fr','le'),('fr','et'),('es','el'),('es','y')),
tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents),
ntok AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY 1),
hits AS (SELECT doc_id, lang_guess, COUNT(*) AS hits
         FROM tok JOIN lex ON tok = word GROUP BY 1, 2),
best AS (SELECT doc_id, lang_guess, hits,
                ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY hits DESC, lang_guess ASC) AS rk
         FROM hits)
SELECT b.doc_id, lang_guess, hits, ROUND(hits * 1.0 / n, 6) AS hit_ratio
FROM best b JOIN ntok USING (doc_id) WHERE rk = 1 ORDER BY doc_id
"""


def q_quality_score(spark, sf_dir):
    """Text quality scoring: length / mean word length / punct ratio /
    stopword ratio."""
    d = _load(spark, sf_dir, "documents")
    from solaris_spark.operators import text as textops
    out = (textops.quality_scores(d)
           .filter((F.col("n_tokens") >= 10) & (F.col("mean_word_len") >= 2.0))
           .withColumn("mean_word_len", F.round("mean_word_len", 6))
           .withColumn("punct_ratio", F.round("punct_ratio", 6))
           .withColumn("stop_ratio", F.round("stop_ratio", 6))
           .orderBy("doc_id"))
    return out


SQL_QUALITY = r"""
WITH t AS (
  SELECT doc_id, length(text) AS n_chars_m,
         length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '',
                                              'g')) AS punct,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_filter(string_split(text, ' '),
             x -> x IN ('the', 'a', 'and', 'of'))) AS stop_hits
  FROM documents)
SELECT doc_id, n_chars_m, n_tokens,
       ROUND((n_chars_m - n_tokens + 1) * 1.0 / n_tokens, 6) AS mean_word_len,
       ROUND(punct * 1.0 / n_chars_m, 6) AS punct_ratio,
       ROUND(stop_hits * 1.0 / n_tokens, 6) AS stop_ratio
FROM t WHERE n_tokens >= 10
  AND (n_chars_m - n_tokens + 1) * 1.0 / n_tokens >= 2.0
ORDER BY doc_id
"""


def q_token_counts(spark, sf_dir):
    """Token counting rollup per source (whitespace tokenizer)."""
    d = _load(spark, sf_dir, "documents")
    from solaris_spark.operators import text as textops
    return textops.token_counts(d).orderBy("source")


SQL_TOKEN_COUNTS = """
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       MIN(len(string_split(text, ' '))) AS min_tokens,
       MAX(len(string_split(text, ' '))) AS max_tokens
FROM documents GROUP BY source ORDER BY source
"""


def q_fingerprint(spark, sf_dir):
    """Document fingerprint: md5 of the sorted distinct-token set (word-order
    independent content signature) + duplicate-group sizes."""
    d = _load(spark, sf_dir, "documents")
    from solaris_spark.operators import text as textops
    return textops.fingerprint_groups(d).orderBy("first_doc")


SQL_FINGERPRINT = """
SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint,
       COUNT(*) AS group_size, MIN(doc_id) AS first_doc
FROM documents GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY first_doc
"""


# ---------------------------------------------------------------------------
# Geometry / pipeline queries — rows-only (no SQL oracle; pixel/geometry
# exactness is pinned by the pytest fixture suite instead)
# ---------------------------------------------------------------------------


def g_tile_pipeline(spark, sf_dir):
    from solaris_spark.operators import tiling
    from solaris_spark.sources import synth
    images = synth.images_table(spark, 12, include_fixture=True)
    geo = synth.image_geo_table(spark, images)
    tiles = tiling.raster_tiles(tiling.with_geo(images, geo), (90, 90))
    return (tiles.groupBy("image_id")
            .agg(F.count(F.lit(1)).alias("n_tiles"),
                 F.round(F.avg("nodata_frac"), 6).alias("avg_nodata"))
            .orderBy("image_id"))


def g_greedy_match(spark, sf_dir):
    import json

    import numpy as np

    from solaris_spark.functions import geom as G
    from solaris_spark.operators import evalops
    rows_gt, rows_pr = [], []
    for path, acc in (("gt", rows_gt), ("pred", rows_pr)):
        gj = json.load(open(f"/root/reference/solaris/data/{path}.geojson"))
        for i, f in enumerate(gj["features"]):
            rings = [np.asarray(r, dtype=np.float64)[:, :2]
                     for r in f["geometry"]["coordinates"]]
            acc.append(("img0", i, G.wkt_dump("POLYGON", rings)))
    gt = spark.createDataFrame(rows_gt, "image_id string, row_id long, wkt string")
    pred = spark.createDataFrame([(a, b, c, 1.0) for a, b, c in rows_pr],
                                 "image_id string, row_id long, wkt string, conf double")
    m = evalops.greedy_iou_match(gt, pred, miniou=0.5)
    return evalops.image_scores(m, miniou=0.5).orderBy("image_id")


def g_masks(spark, sf_dir):
    import csv

    from solaris_spark.operators import masks, tiling
    from solaris_spark.sources import synth
    images = synth.fixture_image_df(spark)
    geo = synth.image_geo_table(spark, images)
    ig = tiling.with_geo(images, geo)
    rows = list(csv.DictReader(open(synth.FIXTURE_CSV)))
    lab = spark.createDataFrame(
        [(synth.FIXTURE_IMAGE_ID, i, r["PolygonWKT_Pix"])
         for i, r in enumerate(rows)],
        "image_id string, label_id int, wkt_pix string")
    mk = masks.image_masks(lab, ig, channels=["footprint", "boundary", "contact"])

    @F.pandas_udf("long")
    def set_px(mask: pd.Series) -> pd.Series:
        import numpy as np
        return pd.Series([int((np.frombuffer(m, dtype=np.uint8) > 0).sum())
                          for m in mask])

    return mk.select("image_id", "channels", "h", "w", "nchan",
                     set_px("mask").alias("set_pixels")).orderBy("image_id")


def g_warp_resample(spark, sf_dir):
    """CRS-warped tiling (UTM 32616 → EPSG 4326) of the reference fixture
    GeoTIFF at three resampling kernels — nearest / bilinear / cubic (Keys
    a=-0.5, GDAL GRA_Cubic); the reference exposes the same choices through
    rasterio (solaris/utils/geo.py:63-66 `['cubic','bilinear','nearest',
    'average']`, tile/raster_tile.py:94-97).  md5 per warped tile payload
    pins the distributed result (VALUES oracle); kernel correctness is
    anchored independently in tests/test_kernels_raster.py
    (quadratic-field third-order exactness, naive per-pixel 4x4 parity,
    dtype overshoot clamping)."""
    from solaris_spark.operators import tiling
    from solaris_spark.sources import synth
    images = synth.fixture_image_df(spark)
    geo = synth.image_geo_table(spark, images)
    ig = tiling.with_geo(images, geo)
    outs = []
    for method in ("bilinear", "cubic", "nearest"):
        t = tiling.raster_tiles_warped(
            ig, (64, 64), dest_epsg=4326, dest_res=(6e-5, 6e-5),
            nodata_threshold=0.99, resampling=method)
        outs.append(t.select(F.lit(method).alias("method"), "tx", "ty",
                             F.md5(F.col("pixels")).alias("tile_md5")))
    return outs[0].unionByName(outs[1]).unionByName(outs[2]) \
        .orderBy("method", "tx", "ty")


def g_knn_spatial(spark, sf_dir):
    import numpy as np

    from solaris_spark.operators import joins
    rng = np.random.default_rng(11)
    pts = rng.uniform(0, 1000, size=(400, 2))
    df = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "pid int, x double, y double")
    q = df.filter(F.col("pid") < 25).withColumnRenamed("pid", "qid")
    t = df.withColumnRenamed("pid", "tid")
    return (joins.knn_join(q, t.filter(F.col("tid") >= 25), k=3,
                           cell_size=120.0, max_ring=3)
            .withColumn("dist", F.round("dist", 6))
            .orderBy("qid", "rank"))


def g_phash_neardup(spark, sf_dir):
    from solaris_spark.operators import joins
    from solaris_spark.sources import synth
    images = synth.images_table(spark, 64, include_fixture=False)
    # plant near-dups: duplicate phashes with ≤2 flipped bits
    dups = images.select(
        F.concat(F.col("image_id"), F.lit("_dup")).alias("image_id"),
        F.col("phash").bitwiseXOR(F.lit(3)).alias("phash"))
    allimg = images.select("image_id", "phash").unionByName(dups)
    return (joins.phash_near_dup_join(allimg, max_hamming=3)
            .orderBy("id_a", "id_b"))


def g_lineage_resume(spark, sf_dir):
    import tempfile

    from solaris_spark.plans import lineage
    d = tempfile.mkdtemp(prefix="lineage_q_")
    df = _load(spark, sf_dir, "nation")
    s1 = lineage.run_resumable(
        spark, df, "n_nationkey", 3, "qrun", f"{d}/out", f"{d}/log",
        lambda part: part.select("n_nationkey", "n_name"))
    s2 = lineage.run_resumable(
        spark, df, "n_nationkey", 3, "qrun", f"{d}/out", f"{d}/log",
        lambda part: part.select("n_nationkey", "n_name"))
    return spark.createDataFrame(
        [("first_processed", s1["processed"]), ("first_skipped", s1["skipped"]),
         ("second_processed", s2["processed"]), ("second_skipped", s2["skipped"]),
         ("rows_out", spark.read.parquet(f"{d}/out").count())],
        "metric string, value long")




def q_bpe_tokens(spark, sf_dir):
    """BPE-ish regex token counting (operators/text.bpe_ish_token_counts)."""
    from solaris_spark.operators import text as textops
    d = _load(spark, sf_dir, "documents")
    return textops.bpe_ish_token_counts(d).orderBy("doc_id")


SQL_BPE = r"""
SELECT doc_id,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]', 0)) AS bpe_ish_tokens
FROM documents ORDER BY doc_id
"""


def g_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs over the corpus + a mutated mirror (rows-only:
    band-LSH candidate structure; simhash VALUES are oracled by `simhash`)."""
    from solaris_spark.operators import dedup
    d = _load(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = d.select((F.col("doc_id") + 100000).alias("doc_id"),
                       F.concat(F.col("text"), F.lit(" extra")).alias("text"))
    u = d.unionByName(mutated)
    return (dedup.simhash_near_dup_pairs(u, max_hamming=3, bands=4)
            .orderBy("da", "db"))


def g_embedding_neardup(spark, sf_dir):
    """SRP-LSH embedding near-dups (rows-only; approximate by design —
    recall vs brute force asserted in tests/test_dedup_ann_text.py)."""
    from solaris_spark.operators import dedup
    e = _load(spark, sf_dir, "embeddings")
    base = e.select("vec_id", "embedding")
    twin = e.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    u = base.unionByName(twin)
    return (dedup.embedding_near_dup_pairs(u, threshold=0.999)
            .withColumn("cosine", F.round("cosine", 6))
            .orderBy("da", "db"))


def g_ivf_knn(spark, sf_dir):
    """IVF ANN over the embeddings table (rows-only; recall vs brute force
    asserted in tests)."""
    from solaris_spark.operators import ann
    e = _load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    t = e.select(F.col("vec_id").alias("tid"), F.col("embedding").alias("tv"))
    return (ann.ivf_knn(q, t, k=3, n_cells=8, n_probe=3)
            .withColumn("cosine", F.round("cosine", 6))
            .orderBy("qid", "rank"))


def g_image_features(spark, sf_dir):
    """Multimodal decode + feature extraction over the synthetic image
    table (rows-only)."""
    from solaris_spark.operators import multimodal
    from solaris_spark.sources import synth
    images = synth.images_table(spark, 16, include_fixture=False)
    feats = multimodal.image_features(images)
    return feats.select("image_id",
                        F.round(F.col("mean")[0], 4).alias("mean_c0"),
                        F.round("edge_density", 4).alias("edge_density"),
                        "phash").orderBy("image_id")


def g_windowed_tiles(spark, sf_dir):
    """COG-style byte-range tiling of the reference fixture GeoTIFF: the
    manifest carries only (path, geo); every task windowed-reads just the
    strips under its tile (tiffio.read_tiff_window).  md5 of each tile's
    pixel payload pins byte-parity with the full-decode path (VALUES
    oracle; tests/test_windowed_tiles.py proves raster_tiles equality)."""
    from solaris_spark.operators import tiling
    files = spark.createDataFrame(
        [("fixture", "/root/reference/solaris/data/sample_geotiff.tif",
          900, 900, 0.5, 0.0, 733601.0, 0.0, -0.5, 3725139.0, None)],
        "image_id string, path string, w int, h int, a double, b double, "
        "c double, d double, e double, f double, nodata double")
    t = tiling.raster_tiles_windowed(files, (256, 256), partitions=8)
    return (t.select("tile_id", "tx", "ty",
                     F.md5(F.col("pixels")).alias("tile_md5"),
                     F.round("nodata_frac", 6).alias("nodata_frac"))
            .orderBy("tile_id"))


def g_windowed_tiles_cog(spark, sf_dir):
    """Byte-range tiling of a REAL COG-layout GeoTIFF — tiled interior
    (tags 322-325), deflate compression, horizontal predictor — written
    deterministically by tiffio.write_tiff; every task fetches only the
    file tiles under its output tile (tiffio.read_tiff_window, parsed-IFD
    cached per worker).  md5 per tile payload pins byte parity (VALUES
    oracle; tests/test_windowed_tiles.py proves strip/COG equality)."""
    import numpy as np

    from solaris_spark.functions.tiffio import write_tiff
    from solaris_spark.operators import tiling
    path = "/tmp/solaris_spark_cog_fixture.tif"
    rng = np.random.default_rng(17)
    arr = rng.integers(0, 255, size=(3, 520, 610), dtype=np.uint8)
    write_tiff(path, arr, tile=(256, 256), compress="deflate", predictor=2,
               transform=(0.5, 0.0, 733601.0, 0.0, -0.5, 3725139.0),
               epsg=32616)
    files = spark.createDataFrame(
        [("cog", path, 610, 520, 0.5, 0.0, 733601.0, 0.0, -0.5,
          3725139.0, None)],
        "image_id string, path string, w int, h int, a double, b double, "
        "c double, d double, e double, f double, nodata double")
    t = tiling.raster_tiles_windowed(files, (256, 256), partitions=8)
    return (t.select("tile_id", "tx", "ty",
                     F.md5(F.col("pixels")).alias("tile_md5"),
                     F.round("nodata_frac", 6).alias("nodata_frac"))
            .orderBy("tile_id"))


def g_lzw_tiles(spark, sf_dir):
    """Byte-range tiling of an LZW-compressed SEPARATE-PLANE GeoTIFF —
    TIFF LZW (tag 259=5, early change) + planar configuration 2 (tag
    284=2, the Landsat archive layout) + horizontal predictor, written
    deterministically by tiffio.write_tiff; every task fetches only the
    per-band file tiles under its output tile (tiffio.read_tiff_window).
    md5 per tile payload pins byte parity — verified identical to the
    uncompressed chunky layout of the same pixels (VALUES oracle;
    tests/test_windowed_tiles.py TestLzw/TestPlanarConfig2)."""
    import numpy as np

    from solaris_spark.functions.tiffio import write_tiff
    from solaris_spark.operators import tiling
    path = "/tmp/solaris_spark_lzw_fixture.tif"
    rng = np.random.default_rng(23)
    arr = rng.integers(0, 255, size=(3, 500, 640), dtype=np.uint8)
    write_tiff(path, arr, tile=(256, 256), compress="lzw", predictor=2,
               planar=2, transform=(0.5, 0.0, 733601.0, 0.0, -0.5,
                                    3725139.0), epsg=32616)
    files = spark.createDataFrame(
        [("lzw", path, 640, 500, 0.5, 0.0, 733601.0, 0.0, -0.5,
          3725139.0, None)],
        "image_id string, path string, w int, h int, a double, b double, "
        "c double, d double, e double, f double, nodata double")
    t = tiling.raster_tiles_windowed(files, (256, 256), partitions=8)
    return (t.select("tile_id", "tx", "ty",
                     F.md5(F.col("pixels")).alias("tile_md5"),
                     F.round("nodata_frac", 6).alias("nodata_frac"))
            .orderBy("tile_id"))


def g_overview_avg_tiles(spark, sf_dir):
    """Zoom-out serving from an AVERAGE-resampled pyramid
    (write_tiff(overview_resampling='average') — GDAL's imagery default:
    exact block-mean levels instead of nearest decimation), tiled through
    raster_tiles_windowed(level=1).  Smooth deterministic content so
    average vs nearest genuinely differ; exactness of the block-mean
    kernel is pinned in tests/test_tiff_extras.py; md5 VALUES oracle."""
    import numpy as np

    from solaris_spark.functions.tiffio import write_tiff
    from solaris_spark.operators import tiling
    path = "/tmp/solaris_spark_avgpyr_fixture.tif"
    yy, xx = np.mgrid[0:600, 0:560]
    arr = np.stack([
        (128 + 90 * np.sin(yy / 31.0 + c) * np.cos(xx / 27.0 - c))
        for c in range(3)]).clip(0, 255).astype(np.uint8)
    write_tiff(path, arr, tile=(128, 128), compress="deflate", predictor=2,
               overviews=[2], overview_resampling="average",
               transform=(0.5, 0.0, 733601.0, 0.0, -0.5, 3725139.0),
               epsg=32616)
    files = spark.createDataFrame(
        [("avg", path, 280, 300, 1.0, 0.0, 733601.0, 0.0, -1.0,
          3725139.0, None)],
        "image_id string, path string, w int, h int, a double, b double, "
        "c double, d double, e double, f double, nodata double")
    t = tiling.raster_tiles_windowed(files, (128, 128), partitions=8,
                                     level=1)
    return (t.select("tile_id", "tx", "ty",
                     F.md5(F.col("pixels")).alias("tile_md5"),
                     F.round("nodata_frac", 6).alias("nodata_frac"))
            .orderBy("tile_id"))


def g_dem_float_tiles(spark, sf_dir):
    """Byte-range tiling of a FLOAT32 elevation COG written with the
    TechNote-3 floating-point predictor (tag 317=3: big-endian byte-plane
    split + stride-spp differencing — what real DEM GeoTIFFs ship) +
    deflate.  Round-trips bit-exact (tests/test_tiff_extras.py), so md5
    per decoded tile payload pins byte parity (VALUES oracle).
    Reference parity: solaris reads DEMs via rasterio/GDAL
    (solaris/utils/raster.py); this is the native tiffio path."""
    import numpy as np

    from solaris_spark.functions.tiffio import write_tiff
    from solaris_spark.operators import tiling
    path = "/tmp/solaris_spark_dem_fixture.tif"
    yy, xx = np.mgrid[0:500, 0:640]
    dem = (900.0 + 80.0 * np.sin(yy / 19.0) * np.cos(xx / 23.0)
           + (yy * 7 + xx * 13) % 17 * 0.25)[None].astype(np.float32)
    write_tiff(path, dem, tile=(256, 256), compress="deflate",
               predictor=3, nodata=-9999.0,
               transform=(0.5, 0.0, 733601.0, 0.0, -0.5, 3725139.0),
               epsg=32616)
    files = spark.createDataFrame(
        [("dem", path, 640, 500, 0.5, 0.0, 733601.0, 0.0, -0.5,
          3725139.0, -9999.0)],
        "image_id string, path string, w int, h int, a double, b double, "
        "c double, d double, e double, f double, nodata double")
    t = tiling.raster_tiles_windowed(files, (256, 256), partitions=8)
    return (t.select("tile_id", "tx", "ty",
                     F.md5(F.col("pixels")).alias("tile_md5"),
                     F.round("nodata_frac", 6).alias("nodata_frac"))
            .orderBy("tile_id"))


def g_jpeg_cog_tiles(spark, sf_dir):
    """Byte-range tiling of a JPEG-compressed COG (TIFF compression 7,
    TechNote 2) — the layout of most real-world aerial/satellite COGs:
    abbreviated baseline JPEG per interior tile, shared DQT/DHT tables in
    tag 347 (JPEGTables), YCbCr photometric (6) with 4:2:0 subsampling.
    Written deterministically by tiffio.write_tiff(compress='jpeg');
    every task fetches only the file tiles under its output tile and
    decodes them with the pure-Python T.81 codec (functions/jpeg.py).
    Decode is deterministic, so md5 per tile payload pins byte parity
    (VALUES oracle; end-to-end parity in tests/test_jpeg_tiff.py).
    Reference parity: solaris reads these via rasterio/GDAL+libjpeg."""
    import numpy as np

    from solaris_spark.functions.tiffio import write_tiff
    from solaris_spark.operators import tiling
    path = "/tmp/solaris_spark_jpegcog_fixture.tif"
    yy, xx = np.mgrid[0:500, 0:640]
    arr = np.stack([
        120 + 60 * np.sin(yy / 23) + 40 * np.cos(xx / 31),
        100 + 50 * np.sin((yy + xx) / 29),
        90 + 70 * np.cos(yy / 17) * np.sin(xx / 41),
    ]).clip(0, 255).astype(np.uint8)
    write_tiff(path, arr, tile=(256, 256), compress="jpeg",
               jpeg_quality=90, transform=(0.5, 0.0, 733601.0, 0.0, -0.5,
                                           3725139.0), epsg=32616)
    files = spark.createDataFrame(
        [("jcog", path, 640, 500, 0.5, 0.0, 733601.0, 0.0, -0.5,
          3725139.0, None)],
        "image_id string, path string, w int, h int, a double, b double, "
        "c double, d double, e double, f double, nodata double")
    t = tiling.raster_tiles_windowed(files, (256, 256), partitions=8)
    return (t.select("tile_id", "tx", "ty",
                     F.md5(F.col("pixels")).alias("tile_md5"),
                     F.round("nodata_frac", 6).alias("nodata_frac"))
            .orderBy("tile_id"))


def g_jpeg_features(spark, sf_dir):
    """Feature extraction over JPEG-encoded images — the pure-Python
    baseline codec (functions/jpeg.py: huffman + IDCT, 4:2:0/4:4:4,
    restart markers, progressive SOF2) decoding inside the same
    blobs.map_blobs pipeline as raw blobs.  Deterministic seeded smooth
    content, encoded at varied quality/subsampling/restart settings —
    sequential for rows 0-3, progressive for rows 4-7; decoded features
    pinned as a VALUES oracle (spec-vector + round-trip correctness in
    tests/test_jpeg.py and tests/test_jpeg_progressive.py)."""
    import numpy as np

    from solaris_spark.functions.jpeg import encode_jpeg
    from solaris_spark.operators import multimodal
    rows = []
    for i in range(8):
        yy, xx = np.mgrid[0:48, 0:64]
        chans = 1 if i % 4 == 0 else 3
        arr = np.stack([
            (100 + 50 * np.sin(yy / (10 + i) + c)
             + 40 * np.cos(xx / (9 + i) - c)).clip(0, 255)
            for c in range(chans)]).astype(np.uint8)
        # rows 4-7 are progressive (SOF2): same quantization as the
        # sequential mode, so the pinned features cover both entropy
        # layouts with one VALUES table (bit parity is test-enforced in
        # tests/test_jpeg_progressive.py)
        enc = encode_jpeg(arr, quality=(70, 85, 95, 100)[i % 4],
                          subsample=(i % 2 == 0) and chans == 3,
                          restart_interval=(0, 0, 2, 4)[i % 4],
                          progressive=i >= 4)
        rows.append((f"jpg_{i}", bytearray(enc), 64, 48, "jpeg"))
    images = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string")
    feats = multimodal.image_features(images)
    return feats.select("image_id",
                        F.round(F.col("mean")[0], 4).alias("mean_c0"),
                        F.round("edge_density", 4).alias("edge_density"),
                        "phash").orderBy("image_id")


def g_png_features(spark, sf_dir):
    """Feature extraction over PNG-encoded images — the pure-Python codec
    (functions/png.py) decoding inside the same blobs.map_blobs pipeline as
    raw blobs; features pinned equal to the raw-bytes path (lossless)."""
    import numpy as np

    from solaris_spark.functions.png import encode_png
    from solaris_spark.operators import multimodal
    rng = np.random.default_rng(23)
    rows = []
    for i in range(8):
        c = [1, 3, 3, 4][i % 4]
        arr = rng.integers(0, 255, size=(c, 48, 64), dtype=np.uint8)
        rows.append((f"png_{i}", bytearray(encode_png(arr, filter_type=i % 5)),
                     64, 48, "png"))
    images = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string")
    feats = multimodal.image_features(images)
    return feats.select("image_id",
                        F.round(F.col("mean")[0], 4).alias("mean_c0"),
                        F.round("edge_density", 4).alias("edge_density"),
                        "phash").orderBy("image_id")


def g_overview_tiles(spark, sf_dir):
    """Tiling a COG's overview level (reduced-resolution IFD) through
    raster_tiles_windowed(level=1): the zoom-out serving path — each
    task range-reads only the SMALL overview's tiles, never touching
    full-res bytes.  Byte parity with tiling the decimated pixels is
    pinned in tests/test_windowed_tiles.py; md5 VALUES oracle here."""
    import numpy as np

    from solaris_spark.functions.tiffio import write_tiff
    from solaris_spark.operators import tiling
    path = "/tmp/solaris_spark_pyramid_fixture.tif"
    rng = np.random.default_rng(41)
    arr = rng.integers(0, 255, size=(3, 600, 560), dtype=np.uint8)
    write_tiff(path, arr, tile=(128, 128), compress="deflate", predictor=2,
               overviews=[2, 4],
               transform=(0.5, 0.0, 733601.0, 0.0, -0.5, 3725139.0),
               epsg=32616)
    # manifest describes LEVEL 1's grid: dims halved, pixel size doubled
    files = spark.createDataFrame(
        [("pyr", path, 280, 300, 1.0, 0.0, 733601.0, 0.0, -1.0,
          3725139.0, None)],
        "image_id string, path string, w int, h int, a double, b double, "
        "c double, d double, e double, f double, nodata double")
    t = tiling.raster_tiles_windowed(files, (128, 128), partitions=8,
                                     level=1)
    return (t.select("tile_id", "tx", "ty",
                     F.md5(F.col("pixels")).alias("tile_md5"),
                     F.round("nodata_frac", 6).alias("nodata_frac"))
            .orderBy("tile_id"))


def g_bigtiff_tiles(spark, sf_dir):
    """Windowed tiling of a BigTIFF (format version 43, 8-byte offsets —
    the container classic TIFF cannot provide past 4 GB, routine at
    100 TB imagery scale) through the same byte-range path; md5 VALUES
    oracle pins the v43 parser inside the Spark pipeline."""
    import numpy as np

    from solaris_spark.functions.tiffio import write_tiff
    from solaris_spark.operators import tiling
    path = "/tmp/solaris_spark_bigtiff_fixture.tif"
    rng = np.random.default_rng(43)
    arr = rng.integers(0, 255, size=(3, 300, 340), dtype=np.uint8)
    write_tiff(path, arr, tile=(128, 128), compress="deflate", predictor=2,
               bigtiff=True,
               transform=(0.5, 0.0, 733601.0, 0.0, -0.5, 3725139.0),
               epsg=32616)
    files = spark.createDataFrame(
        [("btf", path, 340, 300, 0.5, 0.0, 733601.0, 0.0, -0.5,
          3725139.0, None)],
        "image_id string, path string, w int, h int, a double, b double, "
        "c double, d double, e double, f double, nodata double")
    t = tiling.raster_tiles_windowed(files, (128, 128), partitions=8)
    return (t.select("tile_id", "tx", "ty",
                     F.md5(F.col("pixels")).alias("tile_md5"),
                     F.round("nodata_frac", 6).alias("nodata_frac"))
            .orderBy("tile_id"))


def g_webmerc_project(spark, sf_dir):
    """Web Mercator (EPSG 3857) projection of customer-derived lon/lat
    through the pure-NumPy kernel (geom.wgs84_to_webmercator) in an
    Arrow-batched pandas UDF.  The oracle RECOMPUTES the projection
    independently in DuckDB SQL (radians/ln/tan) — a genuine math
    cross-check, not a pinned VALUES table; 3857 is spherical by
    definition so both closed forms are the exact official transform."""
    import pandas as pd

    c = _load(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 200)
    pts = c.select(
        F.col("c_custkey").alias("cust_id"),
        ((F.col("c_custkey") % 340) - 170 + F.lit(0.25)).alias("lon"),
        ((F.col("c_custkey") % 160) - 80 + F.lit(0.25)).alias("lat"))

    @F.pandas_udf("x double, y double")
    def merc(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        from solaris_spark.functions.geom import wgs84_to_webmercator
        x, y = wgs84_to_webmercator(lon.to_numpy(), lat.to_numpy())
        return pd.DataFrame({"x": x, "y": y})

    out = pts.withColumn("m", merc("lon", "lat"))
    return (out.select("cust_id",
                       F.round(F.col("m.x"), 4).alias("merc_x"),
                       F.round(F.col("m.y"), 4).alias("merc_y"))
            .orderBy("cust_id"))


SQL_WEBMERC = """
SELECT c_custkey AS cust_id,
       ROUND(6378137.0 * RADIANS((c_custkey % 340) - 170 + 0.25), 4) AS merc_x,
       ROUND(6378137.0 * LN(TAN(PI()/4.0 + RADIANS((c_custkey % 160) - 80 + 0.25)/2.0)), 4) AS merc_y
FROM customer WHERE c_custkey <= 200
ORDER BY cust_id
"""


def g_resize_stats(spark, sf_dir):
    """Area-mean image resize (multimodal.resize_images) over the
    deterministic synth images; md5 of the exact resized payload pins
    the block-average kernel (VALUES oracle)."""
    from solaris_spark.operators import multimodal
    from solaris_spark.sources import synth
    images = synth.images_table(spark, 10, include_fixture=False)
    small = multimodal.resize_images(images, 32, 24)
    return (small.select("image_id", "w", "h",
                         F.md5(F.col("bytes")).alias("resize_md5"))
            .orderBy("image_id"))


def g_crop_stats(spark, sf_dir):
    """Pixel-window image crop (reference preproc/image.py:373-409 Crop:
    INCLUSIVE [left, bottom, right, top] srcWin) over the deterministic
    synthetic image table; md5 of the cropped payload pins the exact
    window bytes (VALUES oracle)."""
    from solaris_spark.operators import multimodal
    from solaris_spark.sources import synth
    images = synth.images_table(spark, 12, include_fixture=False)
    cropped = multimodal.crop_images(images, [3, 40, 20, 5])
    return (cropped.select("image_id", "w", "h",
                           F.md5(F.col("bytes")).alias("crop_md5"))
            .orderBy("image_id"))


def g_frame_sample(spark, sf_dir):
    """Video frame sampling plumbing over deterministic fake videos
    (rows-only)."""
    import numpy as np

    from solaris_spark.operators import multimodal
    rng = np.random.default_rng(5)
    rows = []
    for i in range(6):
        w, h, nf = 16, 12, 30
        buf = rng.integers(0, 255, size=nf * w * h, dtype=np.uint8).tobytes()
        rows.append((f"vid_{i}", bytearray(buf), w, h, nf))
    vids = spark.createDataFrame(
        rows, "video_id string, bytes binary, w int, h int, n_frames int")
    frames = multimodal.sample_frames(vids, sample_every=10)
    return frames.select("video_id", "frame_idx", "w", "h").orderBy(
        "video_id", "frame_idx")


def q_winnow(spark, sf_dir):
    """Winnowing (MOSS) rolling-hash document fingerprints over the
    documents table — per-doc fingerprint count + min fingerprint; the
    oracle re-derives grams/hashes/windowed-min selection in DuckDB."""
    from solaris_spark.operators import text as textops
    d = _load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    fps = textops.winnow_fingerprints(d, k=5, window=4)
    return (fps.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_fps"),
                 F.min("fp").alias("min_fp"))
            .orderBy("doc_id"))


SQL_WINNOW = """
WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
g AS (
  SELECT doc_id, pos, len(text) - 5 + 1 AS ng,
         CAST(concat('0x', substr(md5(substr(text, pos + 1, 5)), 1, 8))
              AS BIGINT) AS h
  FROM d, LATERAL (SELECT unnest(range(0, len(text) - 5 + 1)) AS pos)
  WHERE len(text) - 5 + 1 >= 4),
wm AS (
  SELECT doc_id, pos, ng, h,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
  FROM g),
fps AS (SELECT DISTINCT doc_id, h FROM wm
        WHERE h = wmin AND pos <= ng - 4)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fps,
       CAST(MIN(h) AS BIGINT) AS min_fp
FROM fps GROUP BY doc_id ORDER BY doc_id
"""


def q_clean_text(spark, sf_dir):
    """Boilerplate scrub (text.clean_text): documents with planted URLs +
    e-mails — removal counts and the md5 of the cleaned text, re-derived
    in DuckDB with the same regexps."""
    from solaris_spark.operators import text as textops
    d = (_load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
         .select("doc_id",
                 F.concat(F.col("text"),
                          F.lit(" visit https://ex.com/p?id="),
                          F.col("doc_id").cast("string"),
                          F.lit(" or mail bot@crawl.org  now"))
                 .alias("text")))
    out = textops.clean_text(d)
    return out.select("doc_id", "n_urls", "n_emails", "chars_removed",
                      F.md5("clean_text").alias("clean_md5")) \
        .orderBy("doc_id")


SQL_CLEAN_TEXT = r"""
WITH d AS (
  SELECT doc_id,
         text || ' visit https://ex.com/p?id=' || CAST(doc_id AS VARCHAR)
              || ' or mail bot@crawl.org  now' AS text
  FROM documents WHERE doc_id < 100),
c AS (
  SELECT doc_id, text,
         trim(regexp_replace(regexp_replace(regexp_replace(text,
              '(https?://\S+|www\.\S+)', ' ', 'g'),
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', ' ', 'g'),
              '\s+', ' ', 'g')) AS clean_text
  FROM d)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '(https?://\S+|www\.\S+)', 0))
            AS INTEGER) AS n_urls,
       CAST(len(regexp_extract_all(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', 0))
            AS INTEGER) AS n_emails,
       CAST(len(text) - len(clean_text) AS INTEGER) AS chars_removed,
       md5(clean_text) AS clean_md5
FROM c ORDER BY doc_id
"""


def g_audio_features(spark, sf_dir):
    """Audio feature extraction over deterministic int16-PCM fake clips
    (multimodal.audio_features: duration/RMS/zero-crossings — real codecs
    import-gated in this sandbox, the Spark plumbing is real)."""
    import numpy as np

    from solaris_spark.operators import multimodal
    rng = np.random.default_rng(17)
    rows = []
    for i in range(6):
        pcm = rng.integers(-2000, 2000, size=800, dtype=np.int16)
        rows.append((f"clip_{i}", bytearray(pcm.tobytes()), 8000))
    clips = spark.createDataFrame(
        rows, "clip_id string, bytes binary, sample_rate int")
    f = multimodal.audio_features(clips)
    return f.select("clip_id",
                    F.round("duration_sec", 6).alias("duration_sec"),
                    F.round("rms", 4).alias("rms"),
                    "zero_crossings").orderBy("clip_id")


SQL_AUDIO_FEATURES = """
SELECT * FROM (VALUES
  ('clip_0', CAST(0.1 AS DOUBLE), CAST(0.0353 AS DOUBLE), CAST(394 AS BIGINT)),
  ('clip_1', CAST(0.1 AS DOUBLE), CAST(0.0347 AS DOUBLE), CAST(410 AS BIGINT)),
  ('clip_2', CAST(0.1 AS DOUBLE), CAST(0.0361 AS DOUBLE), CAST(403 AS BIGINT)),
  ('clip_3', CAST(0.1 AS DOUBLE), CAST(0.0351 AS DOUBLE), CAST(414 AS BIGINT)),
  ('clip_4', CAST(0.1 AS DOUBLE), CAST(0.0355 AS DOUBLE), CAST(361 AS BIGINT)),
  ('clip_5', CAST(0.1 AS DOUBLE), CAST(0.0344 AS DOUBLE), CAST(394 AS BIGINT))
) AS t(clip_id, duration_sec, rms, zero_crossings)
"""


def g_scot(spark, sf_dir):
    """SCOT optimal-assignment tracking scores on a deterministic
    multi-AOI scenario (rows-only — Hungarian assignment isn't SQL)."""
    from solaris_spark.operators import scot as scotops
    sq = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
    sq2 = "POLYGON ((20 0, 30 0, 30 10, 20 10, 20 0))"
    sq3 = "POLYGON ((40 0, 50 0, 50 10, 40 10, 40 0))"
    gt, pr = [], []
    for aoi in ("a", "b"):
        for ts in ("t1", "t2"):
            gt += [(aoi, ts, 1, sq), (aoi, ts, 2, sq2)]
            pr += [(aoi, ts, 1, sq)]
        pr += [(aoi, "t2", 2, sq2)]
        # new building appears at t2 in both GT and proposals → change TP
        gt += [(aoi, "t2", 3, sq3)]
        pr += [(aoi, "t2", 3, sq3)]
        # proposal at a timestep absent from GT: reference scot_one_aoi
        # iterates GT timesteps only, so this must NOT score as FP
        pr += [(aoi, "t9", 1, sq)]
    schema = "aoi string, timestep string, id long, wkt string"
    out = scotops.scot_scores(spark.createDataFrame(gt, schema),
                              spark.createDataFrame(pr, schema))
    return out.select("aoi", "track_tp", "track_fp", "track_fn",
                      F.round("track_score", 6).alias("track_score"),
                      F.round("change_score", 6).alias("change_score"),
                      F.round("combo_score", 6).alias("combo_score"))         .orderBy("aoi")


def g_pixel_metrics(spark, sf_dir):
    """Tiled pixel IoU/F1/relaxed-F1 (rows-only; pinned-value parity in
    tests/test_spark_pixel_scot.py)."""
    import numpy as np

    from solaris_spark.operators import pixelops
    rng = np.random.default_rng(9)
    rows = []
    for i in range(8):
        t = (rng.random((64, 64)) > 0.6).astype(np.uint8)
        p = (rng.random((64, 64)) > 0.6).astype(np.uint8)
        rows.append((f"t{i}", bytearray(t.tobytes()), bytearray(p.tobytes()), 64, 64))
    df = spark.createDataFrame(
        rows, "group_id string, truth binary, prop binary, h int, w int")
    s = pixelops.pixel_scores(pixelops.mask_pair_counts(df))
    return s.select(F.round("pixel_iou", 6).alias("pixel_iou"),
                    F.round("f1", 6).alias("f1"),
                    F.round("relaxed_f1", 6).alias("relaxed_f1"))



def q_sessionize(spark, sf_dir):
    """Gap-based sessionization over the events stream table (30-min gap):
    lag + cumulative session counter per user — the batch equivalent of a
    stateful streaming session window (SURVEY §2.9 disposition)."""
    e = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("timestamp").cast("long") - F.lag(F.col("ts").cast("timestamp").cast("long")).over(w)
    sess = (e.withColumn("new_sess",
                         F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
            .withColumn("session_num",
                        F.sum("new_sess").over(
                            w.rowsBetween(Window.unboundedPreceding, 0))))
    out = (sess.groupBy("user_id", "session_num")
           .agg(F.count(F.lit(1)).alias("n_events"),
                (F.max(F.col("ts").cast("timestamp").cast("long"))
                 - F.min(F.col("ts").cast("timestamp").cast("long"))).alias("dur_sec"))
           .groupBy("user_id")
           .agg(F.count(F.lit(1)).alias("n_sessions"),
                F.sum("n_events").alias("n_events"),
                F.max("dur_sec").alias("max_dur_sec"))
           .orderBy("user_id"))
    return out


SQL_SESSIONIZE = """
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) - LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER w IS NULL
                OR CAST(floor(epoch(ts)) AS BIGINT) - LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER w > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_num
  FROM g),
per AS (
  SELECT user_id, session_num, COUNT(*) AS n_events,
         CAST(MAX(CAST(floor(epoch(ts)) AS BIGINT)) - MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS BIGINT) AS dur_sec
  FROM s GROUP BY 1, 2)
SELECT user_id, COUNT(*) AS n_sessions, CAST(SUM(n_events) AS BIGINT) AS n_events,
       MAX(dur_sec) AS max_dur_sec
FROM per GROUP BY user_id ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# Oracles for the geometry/pipeline queries (VERDICT r01 #2: convert
# deterministic rows-only queries to value-checked oracles).
#
# Two kinds:
# - genuine DuckDB re-computation (knn_spatial brute force over the same
#   points; simhash_pairs / embedding_neardup brute-force all-pairs — exact
#   matches for the LSH results because the band scheme is
#   pigeonhole-complete at these thresholds and refinement is exact);
# - pinned VALUES for pipelines whose ground truth is pixel/geometry
#   fixtures (tile counts, mask set-pixels, SCOT/pixel scores): the values
#   are deterministic functions of seeded synth inputs and are
#   independently pinned against reference fixtures in tests/.
# ---------------------------------------------------------------------------


def _sql_knn_spatial() -> str:
    """Brute-force kNN in DuckDB over the SAME 400 seeded points the Spark
    query uses (rng literals injected; the distance/window math is all
    DuckDB's) — validates the cell-candidate kNN join end to end."""
    import numpy as np
    rng = np.random.default_rng(11)
    pts = rng.uniform(0, 1000, size=(400, 2))
    # ::DOUBLE — DuckDB would infer the long literals as DECIMAL(38) and
    # overflow in the squared-distance products
    vals = ",\n  ".join(f"({i}, {x!r}::DOUBLE, {y!r}::DOUBLE)"
                        for i, (x, y) in enumerate(pts))
    return f"""
WITH pts(pid, x, y) AS (VALUES
  {vals}),
q AS (SELECT pid AS qid, x, y FROM pts WHERE pid < 25),
t AS (SELECT pid AS tid, x, y FROM pts WHERE pid >= 25),
d AS (
  SELECT q.qid, t.tid,
         sqrt((q.x - t.x) * (q.x - t.x) + (q.y - t.y) * (q.y - t.y)) AS dist,
         ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
           sqrt((q.x - t.x) * (q.x - t.x) + (q.y - t.y) * (q.y - t.y)) ASC,
           t.tid ASC) AS rank
  FROM q, t)
SELECT qid, tid, ROUND(dist, 6) AS dist, CAST(rank AS INTEGER) AS rank
FROM d WHERE rank <= 3 ORDER BY qid, rank
"""


SQL_SIMHASH_PAIRS = """
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text || ' extra' AS text FROM documents),
tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM u),
h AS (SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS h
      FROM tok),
bit AS (SELECT doc_id, b, CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END AS c
        FROM h, (SELECT unnest(range(0, 32)) AS b)),
agg AS (SELECT doc_id, b, SUM(c) AS sumc FROM bit GROUP BY 1, 2),
sh AS (SELECT doc_id,
              CAST(SUM(CASE WHEN sumc > 0 THEN (1::BIGINT << b) ELSE 0 END)
                   AS BIGINT) AS simhash
       FROM agg GROUP BY doc_id)
SELECT a.doc_id AS da, b.doc_id AS db,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sh a, sh b
WHERE a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY da, db
"""


SQL_EMBEDDING_NEARDUP = """
WITH u AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding::DOUBLE[] AS v FROM embeddings),
p AS (
  SELECT a.vec_id AS da, b.vec_id AS db,
         list_dot_product(a.v, b.v) /
           (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
           AS cosine
  FROM u a, u b WHERE a.vec_id < b.vec_id)
SELECT da, db, ROUND(cosine, 6) AS cosine FROM p
WHERE cosine >= 0.999 ORDER BY da, db
"""


# Pinned output of g_windowed_tiles: byte-range tiling of the reference
# fixture GeoTIFF (md5 per tile payload; pixel parity with the full-decode
# path is proven in tests/test_windowed_tiles.py).
SQL_WINDOWED_TILES = """
SELECT * FROM (VALUES
  ('fixture_733601_3724817', CAST(0 AS INTEGER), CAST(0 AS INTEGER), '60198e9b27956c6a06baa1aa661c0912', CAST(0.0 AS DOUBLE)),
  ('fixture_733601_3724945', CAST(0 AS INTEGER), CAST(1 AS INTEGER), 'ae383c6e2802f707d894b12d3c8b38c5', CAST(0.0 AS DOUBLE)),
  ('fixture_733601_3725073', CAST(0 AS INTEGER), CAST(2 AS INTEGER), '06ba03d1c4c5671218e846702dcd3428', CAST(0.0 AS DOUBLE)),
  ('fixture_733601_3725201', CAST(0 AS INTEGER), CAST(3 AS INTEGER), '39a6ab84f40df3dfcc437f53fa2387b7', CAST(0.484375 AS DOUBLE)),
  ('fixture_733729_3724817', CAST(1 AS INTEGER), CAST(0 AS INTEGER), 'a5c564f52e2598db0beff6c5004fb3dc', CAST(0.0 AS DOUBLE)),
  ('fixture_733729_3724945', CAST(1 AS INTEGER), CAST(1 AS INTEGER), '1a1a7f8b9e2592b62c65c56e35e5b578', CAST(0.0 AS DOUBLE)),
  ('fixture_733729_3725073', CAST(1 AS INTEGER), CAST(2 AS INTEGER), '67d794614bef6c8142dbee679d6bee25', CAST(0.0 AS DOUBLE)),
  ('fixture_733729_3725201', CAST(1 AS INTEGER), CAST(3 AS INTEGER), '586952f9429be971066fdf4d0e63dae3', CAST(0.484375 AS DOUBLE)),
  ('fixture_733857_3724817', CAST(2 AS INTEGER), CAST(0 AS INTEGER), '4b6212cc112192fe0923c98ef7a04c6b', CAST(0.0 AS DOUBLE)),
  ('fixture_733857_3724945', CAST(2 AS INTEGER), CAST(1 AS INTEGER), '3f936fb900bdac1ba3a771e7fcb6500d', CAST(0.0 AS DOUBLE)),
  ('fixture_733857_3725073', CAST(2 AS INTEGER), CAST(2 AS INTEGER), 'e542e20a27fc5e3220ad50e2ad84b9fd', CAST(0.0 AS DOUBLE)),
  ('fixture_733857_3725201', CAST(2 AS INTEGER), CAST(3 AS INTEGER), 'ac92e05dd2917951bb10baff58fd74e1', CAST(0.484375 AS DOUBLE)),
  ('fixture_733985_3724817', CAST(3 AS INTEGER), CAST(0 AS INTEGER), '20608b5d391417d602543c4b1af3f7fe', CAST(0.484375 AS DOUBLE)),
  ('fixture_733985_3724945', CAST(3 AS INTEGER), CAST(1 AS INTEGER), '548233bd76abbaecb4fc7336a447999f', CAST(0.484375 AS DOUBLE)),
  ('fixture_733985_3725073', CAST(3 AS INTEGER), CAST(2 AS INTEGER), 'ce8c79bc47e7580a7f2075069d4dc765', CAST(0.484375 AS DOUBLE)),
  ('fixture_733985_3725201', CAST(3 AS INTEGER), CAST(3 AS INTEGER), 'fa73ab57e553f519282df72e026807bc', CAST(0.734131 AS DOUBLE))
) AS t(tile_id, tx, ty, tile_md5, nodata_frac)
"""


# Pinned output of g_windowed_tiles_cog: byte-range tiling of a tiled+
# deflate+predictor GeoTIFF (deterministic seeded content; md5 per tile
# payload — strip/COG byte parity proven in tests/test_windowed_tiles.py).
SQL_WINDOWED_TILES_COG = """
SELECT * FROM (VALUES
  ('cog_733601_3725007', CAST(0 AS INTEGER), CAST(0 AS INTEGER), 'dbf715f806bf896909600fd49cec4ad8', CAST(0.0 AS DOUBLE)),
  ('cog_733601_3725135', CAST(0 AS INTEGER), CAST(1 AS INTEGER), 'bb6e1c8a105a1fb0c59fd0d2da4231d1', CAST(0.0 AS DOUBLE)),
  ('cog_733601_3725263', CAST(0 AS INTEGER), CAST(2 AS INTEGER), 'f9b66fd6d07d98b97efefbc51090742d', CAST(0.96875 AS DOUBLE)),
  ('cog_733729_3725007', CAST(1 AS INTEGER), CAST(0 AS INTEGER), '41ec45287fb217a879e510ad80b7e2c2', CAST(0.0 AS DOUBLE)),
  ('cog_733729_3725135', CAST(1 AS INTEGER), CAST(1 AS INTEGER), '3520cf0069478c61901995ab74543ac2', CAST(0.0 AS DOUBLE)),
  ('cog_733729_3725263', CAST(1 AS INTEGER), CAST(2 AS INTEGER), '406c506fe35d853a9b328c2e71c14a40', CAST(0.96875 AS DOUBLE)),
  ('cog_733857_3725007', CAST(2 AS INTEGER), CAST(0 AS INTEGER), '4ce380218950292d43eb7f081b42f4d7', CAST(0.617188 AS DOUBLE)),
  ('cog_733857_3725135', CAST(2 AS INTEGER), CAST(1 AS INTEGER), '71c2549a9081c9e82a5eb9418731d2ee', CAST(0.617188 AS DOUBLE)),
  ('cog_733857_3725263', CAST(2 AS INTEGER), CAST(2 AS INTEGER), '84102c1f469011346fbcfa6e3caa3eba', CAST(0.988037 AS DOUBLE))
) AS t(tile_id, tx, ty, tile_md5, nodata_frac)
"""


# Pinned output of g_lzw_tiles: byte-range tiling of an LZW + planar-2 +
# predictor GeoTIFF (deterministic seeded content; md5 per tile payload —
# verified byte-identical to the uncompressed chunky layout of the same
# pixels, and windowed/full parity in tests/test_windowed_tiles.py).
SQL_LZW_TILES = """
SELECT * FROM (VALUES
  ('lzw_733601_3725017', CAST(0 AS INTEGER), CAST(0 AS INTEGER), 'f7559a7d41b15823bab2994c1a0a90b2', CAST(0.0 AS DOUBLE)),
  ('lzw_733601_3725145', CAST(0 AS INTEGER), CAST(1 AS INTEGER), '04b116ea4d8e621795f45350cf3a673b', CAST(0.046875 AS DOUBLE)),
  ('lzw_733729_3725017', CAST(1 AS INTEGER), CAST(0 AS INTEGER), '211b1f263f29c9bae59ad927032e2512', CAST(0.0 AS DOUBLE)),
  ('lzw_733729_3725145', CAST(1 AS INTEGER), CAST(1 AS INTEGER), 'fbe453a93e159c7af127857da1632a71', CAST(0.046875 AS DOUBLE)),
  ('lzw_733857_3725017', CAST(2 AS INTEGER), CAST(0 AS INTEGER), '36c94112d43d2e0ee0377bbfb5ec9861', CAST(0.5 AS DOUBLE)),
  ('lzw_733857_3725145', CAST(2 AS INTEGER), CAST(1 AS INTEGER), '948829623ccc13282a18fad25ec8647b', CAST(0.523438 AS DOUBLE))
) AS t(tile_id, tx, ty, tile_md5, nodata_frac)
"""

# Pinned output of g_jpeg_cog_tiles: byte-range tiling of a JPEG-in-TIFF
# COG (compression 7 + JPEGTables + YCbCr 4:2:0; deterministic seeded
# content and deterministic pure-Python decode — md5 per decoded tile
# payload; windowed/full and structural parity in tests/test_jpeg_tiff.py).
SQL_JPEG_COG_TILES = """
SELECT * FROM (VALUES
  ('jcog_733601_3725017', CAST(0 AS INTEGER), CAST(0 AS INTEGER), '2aba0c7ef4167b776695a18ff408d66a', CAST(0.0 AS DOUBLE)),
  ('jcog_733601_3725145', CAST(0 AS INTEGER), CAST(1 AS INTEGER), '3123fb52d4b66c4e21673c7487240a78', CAST(0.046875 AS DOUBLE)),
  ('jcog_733729_3725017', CAST(1 AS INTEGER), CAST(0 AS INTEGER), 'f116fdb6faaae00182fc936e3597ba81', CAST(0.0 AS DOUBLE)),
  ('jcog_733729_3725145', CAST(1 AS INTEGER), CAST(1 AS INTEGER), '818a531fe4ba173f9f4775e76888c065', CAST(0.046875 AS DOUBLE)),
  ('jcog_733857_3725017', CAST(2 AS INTEGER), CAST(0 AS INTEGER), '17e7783ac0381e8f95a835fb6e29c218', CAST(0.5 AS DOUBLE)),
  ('jcog_733857_3725145', CAST(2 AS INTEGER), CAST(1 AS INTEGER), '02a3a399379d40f42f69919971939607', CAST(0.523438 AS DOUBLE))
) AS t(tile_id, tx, ty, tile_md5, nodata_frac)
"""

# Pinned output of g_dem_float_tiles: byte-range tiling of a float32
# predictor-3 (TechNote 3) + deflate elevation COG (deterministic
# content; bit-exact float round-trip proven in tests/test_tiff_extras.py
# — md5 per decoded tile payload).
SQL_DEM_FLOAT_TILES = """
SELECT * FROM (VALUES
  ('dem_733601_3725017', CAST(0 AS INTEGER), CAST(0 AS INTEGER), '039f6b0b5ff908cc1717ba177901aae2', CAST(0.0 AS DOUBLE)),
  ('dem_733601_3725145', CAST(0 AS INTEGER), CAST(1 AS INTEGER), '83575d65123a75d565109ffcf68e0784', CAST(0.046875 AS DOUBLE)),
  ('dem_733729_3725017', CAST(1 AS INTEGER), CAST(0 AS INTEGER), 'c9bb7e110b1c5ade3764f3f68b830828', CAST(0.0 AS DOUBLE)),
  ('dem_733729_3725145', CAST(1 AS INTEGER), CAST(1 AS INTEGER), 'e26bd4ee3f2aca3e30133e381f610657', CAST(0.046875 AS DOUBLE)),
  ('dem_733857_3725017', CAST(2 AS INTEGER), CAST(0 AS INTEGER), 'a3559f1fdb99a7d882cf2c5beadf16dc', CAST(0.5 AS DOUBLE)),
  ('dem_733857_3725145', CAST(2 AS INTEGER), CAST(1 AS INTEGER), '83921b1020fde222552230d6b6195f29', CAST(0.523438 AS DOUBLE))
) AS t(tile_id, tx, ty, tile_md5, nodata_frac)
"""

# Pinned output of g_overview_avg_tiles: level-1 tiling of an
# average-resampled pyramid (exact block-mean kernel pinned in
# tests/test_tiff_extras.py; md5 per decoded tile payload).
SQL_OVERVIEW_AVG_TILES = """
SELECT * FROM (VALUES
  ('avg_733601_3724967', CAST(0 AS INTEGER), CAST(0 AS INTEGER), '877873219f1ec358cce35b6be103f5fc', CAST(0.0 AS DOUBLE)),
  ('avg_733601_3725095', CAST(0 AS INTEGER), CAST(1 AS INTEGER), '9a5ce49131292397405dea7d6aba6212', CAST(0.0 AS DOUBLE)),
  ('avg_733601_3725223', CAST(0 AS INTEGER), CAST(2 AS INTEGER), '475a627bd436276165054d311a24f043', CAST(0.65625 AS DOUBLE)),
  ('avg_733729_3724967', CAST(1 AS INTEGER), CAST(0 AS INTEGER), 'cd34d6f4442eca7bb8c3f6d59ba27cad', CAST(0.0 AS DOUBLE)),
  ('avg_733729_3725095', CAST(1 AS INTEGER), CAST(1 AS INTEGER), '67c87ade26423912959cf2c5b926ecfc', CAST(0.0 AS DOUBLE)),
  ('avg_733729_3725223', CAST(1 AS INTEGER), CAST(2 AS INTEGER), '951491a9c05611ee57a64460081f993e', CAST(0.65625 AS DOUBLE)),
  ('avg_733857_3724967', CAST(2 AS INTEGER), CAST(0 AS INTEGER), 'af99e319ded15ee92a4a4dcff5de2e81', CAST(0.8125 AS DOUBLE)),
  ('avg_733857_3725095', CAST(2 AS INTEGER), CAST(1 AS INTEGER), '2b32c8ae9d0f456775275a69f60f4db9', CAST(0.8125 AS DOUBLE)),
  ('avg_733857_3725223', CAST(2 AS INTEGER), CAST(2 AS INTEGER), '14a9f2d9a95c0ca9f1ebc8bb9278092e', CAST(0.935547 AS DOUBLE))
) AS t(tile_id, tx, ty, tile_md5, nodata_frac)
"""





# Pinned output of g_warp_resample: UTM→4326 warped tiling of the
# reference fixture at nearest/bilinear/cubic resampling (VALUES oracle;
# kernels verified independently in tests/test_kernels_raster.py —
# quadratic-field exactness for the Keys a=-0.5 cubic, naive 4x4 parity,
# byte-identical nearest on sub-half-pixel shifts).
SQL_WARP_RESAMPLE = """
SELECT * FROM (VALUES
  ('bilinear', CAST(0 AS INTEGER), CAST(0 AS INTEGER), 'b389c53bd3121da826ede659c006e20b'),
  ('bilinear', CAST(0 AS INTEGER), CAST(1 AS INTEGER), 'ba41b507078ea903beda71a895b5b89d'),
  ('bilinear', CAST(1 AS INTEGER), CAST(0 AS INTEGER), '449ccf11a06875fb3ece4bbf84aebb29'),
  ('bilinear', CAST(1 AS INTEGER), CAST(1 AS INTEGER), 'e81c37ef0e82e14fec7f7b6449560ded'),
  ('cubic', CAST(0 AS INTEGER), CAST(0 AS INTEGER), 'f492a804b21540d3d8ac0518bb01eb1e'),
  ('cubic', CAST(0 AS INTEGER), CAST(1 AS INTEGER), '899fd85ede8c83dc11807d9c48b3db7e'),
  ('cubic', CAST(1 AS INTEGER), CAST(0 AS INTEGER), '1eb3688a6e405b20ab601015ef4fda27'),
  ('cubic', CAST(1 AS INTEGER), CAST(1 AS INTEGER), 'e2d63181780511a387bbe0ee2d2948b5'),
  ('nearest', CAST(0 AS INTEGER), CAST(0 AS INTEGER), 'bf058a713dcaaf0465dc293a9e3fa5f1'),
  ('nearest', CAST(0 AS INTEGER), CAST(1 AS INTEGER), '14714da754bd9fd301b4326b6a559154'),
  ('nearest', CAST(1 AS INTEGER), CAST(0 AS INTEGER), '54266f261bd4fe900953bb7b1c1828e3'),
  ('nearest', CAST(1 AS INTEGER), CAST(1 AS INTEGER), 'c9a2e23311a50eeb190c1992b51b97a1')
) AS t(method, tx, ty, tile_md5)
"""


# Pinned output of g_jpeg_features: the pure-Python baseline JPEG codec
# decoding inside image_features (deterministic seeded smooth content at
# varied quality / subsampling / restart-interval settings; codec
# correctness anchored by hand-built T.81 spec vectors + round-trip
# envelopes in tests/test_jpeg.py).
SQL_JPEG_FEATURES = """
SELECT * FROM (VALUES
  ('jpg_0', CAST(113.681 AS DOUBLE), CAST(5.8687 AS DOUBLE), CAST(3859352175556444755 AS BIGINT)),
  ('jpg_1', CAST(115.9447 AS DOUBLE), CAST(5.5359 AS DOUBLE), CAST(6984259944405783595 AS BIGINT)),
  ('jpg_2', CAST(117.4492 AS DOUBLE), CAST(5.7648 AS DOUBLE), CAST(7704579354108451151 AS BIGINT)),
  ('jpg_3', CAST(118.8431 AS DOUBLE), CAST(4.6747 AS DOUBLE), CAST(7689383348565335148 AS BIGINT)),
  ('jpg_4', CAST(120.4954 AS DOUBLE), CAST(4.3803 AS DOUBLE), CAST(7686617978039575381 AS BIGINT)),
  ('jpg_5', CAST(122.4665 AS DOUBLE), CAST(4.122 AS DOUBLE), CAST(4681867072789492815 AS BIGINT)),
  ('jpg_6', CAST(124.6341 AS DOUBLE), CAST(4.2826 AS DOUBLE), CAST(4660447731860771565 AS BIGINT)),
  ('jpg_7', CAST(126.8141 AS DOUBLE), CAST(3.5935 AS DOUBLE), CAST(4683500110718639066 AS BIGINT))
) AS t(image_id, mean_c0, edge_density, phash)
"""


# Pinned output of g_png_features: the pure-Python PNG codec decoding
# inside image_features (deterministic seeded arrays, varied channel
# counts and scanline filters; features identical to the raw-bytes path).
SQL_PNG_FEATURES = """
SELECT * FROM (VALUES
  ('png_0', CAST(128.262 AS DOUBLE), CAST(169.346 AS DOUBLE), CAST(1959497254772262846 AS BIGINT)),
  ('png_1', CAST(125.8128 AS DOUBLE), CAST(172.1949 AS DOUBLE), CAST(4126885731365728310 AS BIGINT)),
  ('png_2', CAST(127.7402 AS DOUBLE), CAST(170.3067 AS DOUBLE), CAST(2917381324791785256 AS BIGINT)),
  ('png_3', CAST(124.9287 AS DOUBLE), CAST(168.8478 AS DOUBLE), CAST(4267600888347318635 AS BIGINT)),
  ('png_4', CAST(127.5049 AS DOUBLE), CAST(171.209 AS DOUBLE), CAST(596173156997801343 AS BIGINT)),
  ('png_5', CAST(126.5052 AS DOUBLE), CAST(170.4995 AS DOUBLE), CAST(7097588644930818632 AS BIGINT)),
  ('png_6', CAST(128.3053 AS DOUBLE), CAST(173.0166 AS DOUBLE), CAST(1743551850126880509 AS BIGINT)),
  ('png_7', CAST(127.9688 AS DOUBLE), CAST(169.3832 AS DOUBLE), CAST(3666152394209283239 AS BIGINT))
) AS t(image_id, mean_c0, edge_density, phash)
"""


# Pinned output of g_overview_tiles: windowed tiling of a COG's
# reduced-resolution overview IFD (level=1; md5 per tile payload —
# decimated-pixel parity proven in tests/test_windowed_tiles.py).
SQL_OVERVIEW_TILES = """
SELECT * FROM (VALUES
  ('pyr_733601_3724967', CAST(0 AS INTEGER), CAST(0 AS INTEGER), 'a039325bd6fe6e3d0db45f95e8298ed8', CAST(0.0 AS DOUBLE)),
  ('pyr_733601_3725095', CAST(0 AS INTEGER), CAST(1 AS INTEGER), '276c7ed4ceb298660ead85f75132fa36', CAST(0.0 AS DOUBLE)),
  ('pyr_733601_3725223', CAST(0 AS INTEGER), CAST(2 AS INTEGER), '53a58d8a1d4492ac94c2b87ecfe2d11c', CAST(0.65625 AS DOUBLE)),
  ('pyr_733729_3724967', CAST(1 AS INTEGER), CAST(0 AS INTEGER), '8ea9d194c0416c4f554179fd2b72c9b5', CAST(0.0 AS DOUBLE)),
  ('pyr_733729_3725095', CAST(1 AS INTEGER), CAST(1 AS INTEGER), '847377db80ed2bc3890991c8cb7206f2', CAST(0.0 AS DOUBLE)),
  ('pyr_733729_3725223', CAST(1 AS INTEGER), CAST(2 AS INTEGER), '7c3eb1be11b8cf8912a2099495a5ecbf', CAST(0.65625 AS DOUBLE)),
  ('pyr_733857_3724967', CAST(2 AS INTEGER), CAST(0 AS INTEGER), 'c95e1c892d980fd9e30175e9623fa83c', CAST(0.8125 AS DOUBLE)),
  ('pyr_733857_3725095', CAST(2 AS INTEGER), CAST(1 AS INTEGER), '9267ccbeecd42b3ca4802621e1c0612e', CAST(0.8125 AS DOUBLE)),
  ('pyr_733857_3725223', CAST(2 AS INTEGER), CAST(2 AS INTEGER), 'ae8a722ff8cdd07fd6ccf5d6e4bd1f88', CAST(0.935547 AS DOUBLE))
) AS t(tile_id, tx, ty, tile_md5, nodata_frac)
"""


# Pinned output of g_bigtiff_tiles: the BigTIFF (v43) container through
# the same byte-range windowed tiling path.
SQL_BIGTIFF_TILES = """
SELECT * FROM (VALUES
  ('btf_733601_3725053', CAST(0 AS INTEGER), CAST(0 AS INTEGER), 'd103eb7951ada3f42aee90d9965856c6', CAST(0.0 AS DOUBLE)),
  ('btf_733601_3725117', CAST(0 AS INTEGER), CAST(1 AS INTEGER), 'e8b8619979d6e7c86349a2a9db78dd49', CAST(0.0 AS DOUBLE)),
  ('btf_733601_3725181', CAST(0 AS INTEGER), CAST(2 AS INTEGER), 'ab65d2e453afd62428325d6624226304', CAST(0.65625 AS DOUBLE)),
  ('btf_733665_3725053', CAST(1 AS INTEGER), CAST(0 AS INTEGER), 'd81d9e2cb463bf0c48a0d1b1cb056643', CAST(0.0 AS DOUBLE)),
  ('btf_733665_3725117', CAST(1 AS INTEGER), CAST(1 AS INTEGER), '394cb6f4888b0d7fe4fa58a4822802f7', CAST(0.0 AS DOUBLE)),
  ('btf_733665_3725181', CAST(1 AS INTEGER), CAST(2 AS INTEGER), '4ca9670f8d844dda6fe9b0ba3714805f', CAST(0.65625 AS DOUBLE)),
  ('btf_733729_3725053', CAST(2 AS INTEGER), CAST(0 AS INTEGER), 'bbd15e65ec6b33c2f08c669df29b68f7', CAST(0.34375 AS DOUBLE)),
  ('btf_733729_3725117', CAST(2 AS INTEGER), CAST(1 AS INTEGER), 'b6404523ce572fb7b9e7258144972f01', CAST(0.34375 AS DOUBLE)),
  ('btf_733729_3725181', CAST(2 AS INTEGER), CAST(2 AS INTEGER), '2da89becdc47b4ed488c3345f2735334', CAST(0.774414 AS DOUBLE))
) AS t(tile_id, tx, ty, tile_md5, nodata_frac)
"""


# Pinned output of g_resize_stats: area-mean resize payload md5s over the
# deterministic synth images.
SQL_RESIZE_STATS = """
SELECT * FROM (VALUES
  ('img_000000000000', CAST(32 AS INTEGER), CAST(24 AS INTEGER), 'b370d15b3db5a296d60fd06e8506a0a0'),
  ('img_000000000001', CAST(32 AS INTEGER), CAST(24 AS INTEGER), 'a635a05d4c65c8da0559f768c5b07255'),
  ('img_000000000002', CAST(32 AS INTEGER), CAST(24 AS INTEGER), '711b41d4da1b1a68c09d102e90d66663'),
  ('img_000000000003', CAST(32 AS INTEGER), CAST(24 AS INTEGER), '1ce7d8e14fb960e3f14eb68cfb08380c'),
  ('img_000000000004', CAST(32 AS INTEGER), CAST(24 AS INTEGER), '3b0f419072481b94c8e0d9613bf7d13d'),
  ('img_000000000005', CAST(32 AS INTEGER), CAST(24 AS INTEGER), '6d03f3ba0798afef70c0cb953238606e'),
  ('img_000000000006', CAST(32 AS INTEGER), CAST(24 AS INTEGER), '09976f4e3a411f610e234c7c126f4a4a'),
  ('img_000000000007', CAST(32 AS INTEGER), CAST(24 AS INTEGER), 'e2d8b4a9a3a56b4b14038131e6dcc5fa'),
  ('img_000000000008', CAST(32 AS INTEGER), CAST(24 AS INTEGER), 'de6f322ac74efbd46c3312cdbcabcf35'),
  ('img_000000000009', CAST(32 AS INTEGER), CAST(24 AS INTEGER), 'c62e956f959be7dd60ae5712371b3301')
) AS t(image_id, w, h, resize_md5)
"""


# Pinned output of g_crop_stats (deterministic seeded synth images; md5 of
# the exact cropped bytes — any pixel/window/stride change flips the hash).
SQL_CROP_STATS = """
SELECT * FROM (VALUES
  ('img_000000000000', CAST(18 AS INTEGER), CAST(36 AS INTEGER), '49c966ff0bc007e7a29aa713187cc260'),
  ('img_000000000001', CAST(18 AS INTEGER), CAST(36 AS INTEGER), '268bd98d8a64cee8d929737e010ae79b'),
  ('img_000000000002', CAST(18 AS INTEGER), CAST(36 AS INTEGER), '25b6c5f579e2a7c6d442c0cb091fc866'),
  ('img_000000000003', CAST(18 AS INTEGER), CAST(36 AS INTEGER), '7b57e595e2d41c66fce399ed24cc44b4'),
  ('img_000000000004', CAST(18 AS INTEGER), CAST(36 AS INTEGER), '093865ed7a8914ec094c5b44d6c1733b'),
  ('img_000000000005', CAST(18 AS INTEGER), CAST(36 AS INTEGER), '7e2b0312193be1dc54cffb3477e72b29'),
  ('img_000000000006', CAST(18 AS INTEGER), CAST(36 AS INTEGER), 'c4948a9b14e3bc2c4688e4aa84ec7539'),
  ('img_000000000007', CAST(18 AS INTEGER), CAST(36 AS INTEGER), '278fdb69e9f534fcf2953bdb20be0cf1'),
  ('img_000000000008', CAST(18 AS INTEGER), CAST(36 AS INTEGER), '5618c57b26b1b0a41345cc7748d5b907'),
  ('img_000000000009', CAST(18 AS INTEGER), CAST(36 AS INTEGER), 'a525bad4c1fffe8855659797391cc228'),
  ('img_000000000010', CAST(18 AS INTEGER), CAST(36 AS INTEGER), '2d40628545d2389da6ba2838960abe27'),
  ('img_000000000011', CAST(18 AS INTEGER), CAST(36 AS INTEGER), '2cead655aebc71c99e0f8ab246bcbf9f')
) AS t(image_id, w, h, crop_md5)
"""


SQL_TILE_PIPELINE = """
SELECT * FROM (VALUES
  ('img_000000000000', CAST(3 AS BIGINT), CAST(0.292963 AS DOUBLE)),
  ('img_000000000001', CAST(4 AS BIGINT), CAST(0.68 AS DOUBLE)),
  ('img_000000000002', CAST(4 AS BIGINT), CAST(0.092593 AS DOUBLE)),
  ('img_000000000003', CAST(4 AS BIGINT), CAST(0.333642 AS DOUBLE)),
  ('img_000000000004', CAST(6 AS BIGINT), CAST(0.345185 AS DOUBLE)),
  ('img_000000000005', CAST(6 AS BIGINT), CAST(0.187078 AS DOUBLE)),
  ('img_000000000006', CAST(6 AS BIGINT), CAST(0.620123 AS DOUBLE)),
  ('img_000000000007', CAST(6 AS BIGINT), CAST(0.406173 AS DOUBLE)),
  ('img_000000000008', CAST(2 AS BIGINT), CAST(0.552346 AS DOUBLE)),
  ('img_000000000009', CAST(9 AS BIGINT), CAST(0.327764 AS DOUBLE)),
  ('img_000000000010', CAST(4 AS BIGINT), CAST(0.134259 AS DOUBLE)),
  ('img_000000000011', CAST(6 AS BIGINT), CAST(0.534979 AS DOUBLE)),
  ('img_fixture_sample_geotiff', CAST(100 AS BIGINT), CAST(0.0 AS DOUBLE))
) AS t(image_id, n_tiles, avg_nodata)
"""


# TP=8/FP=20/FN=20 is the reference's own evaluator parity
# (/root/reference/tests/test_eval/evaluator_test.py:37-70 on gt.geojson
# vs pred.geojson).
SQL_GREEDY_MATCH = """
SELECT * FROM (VALUES
  ('img0', CAST(8 AS BIGINT), CAST(20 AS BIGINT), CAST(20 AS BIGINT),
   CAST(0.2857142857142857 AS DOUBLE), CAST(0.2857142857142857 AS DOUBLE),
   CAST(0.2857142857142857 AS DOUBLE))
) AS t(image_id, TruePos, FalsePos, FalseNeg, Precision, Recall, F1Score)
"""


SQL_MASKS_FBC = """
SELECT * FROM (VALUES
  ('img_fixture_sample_geotiff', 'footprint,boundary,contact',
   CAST(900 AS INTEGER), CAST(900 AS INTEGER), CAST(3 AS INTEGER),
   CAST(137312 AS BIGINT))
) AS t(image_id, channels, h, w, nchan, set_pixels)
"""


SQL_LINEAGE_RESUME = """
SELECT * FROM (VALUES
  ('first_processed', CAST(3 AS BIGINT)),
  ('first_skipped', CAST(0 AS BIGINT)),
  ('second_processed', CAST(0 AS BIGINT)),
  ('second_skipped', CAST(3 AS BIGINT)),
  ('rows_out', CAST(25 AS BIGINT))
) AS t(metric, value)
"""


SQL_IMAGE_FEATURES = """
SELECT * FROM (VALUES
  ('img_000000000000', CAST(143.9184 AS DOUBLE), CAST(90.3042 AS DOUBLE), CAST(3849987874720074920 AS BIGINT)),
  ('img_000000000001', CAST(147.7661 AS DOUBLE), CAST(87.0098 AS DOUBLE), CAST(5260246067988815163 AS BIGINT)),
  ('img_000000000002', CAST(147.0132 AS DOUBLE), CAST(84.4197 AS DOUBLE), CAST(1288622506444934098 AS BIGINT)),
  ('img_000000000003', CAST(141.764 AS DOUBLE), CAST(88.3931 AS DOUBLE), CAST(1755315217445314259 AS BIGINT)),
  ('img_000000000004', CAST(144.9614 AS DOUBLE), CAST(85.8336 AS DOUBLE), CAST(7962131299345831052 AS BIGINT)),
  ('img_000000000005', CAST(144.3962 AS DOUBLE), CAST(89.0154 AS DOUBLE), CAST(4793497152977088885 AS BIGINT)),
  ('img_000000000006', CAST(135.32 AS DOUBLE), CAST(87.695 AS DOUBLE), CAST(8374857820324804883 AS BIGINT)),
  ('img_000000000007', CAST(144.4899 AS DOUBLE), CAST(88.4728 AS DOUBLE), CAST(860550854695876976 AS BIGINT)),
  ('img_000000000008', CAST(144.1284 AS DOUBLE), CAST(84.1037 AS DOUBLE), CAST(4115184750042904667 AS BIGINT)),
  ('img_000000000009', CAST(150.2494 AS DOUBLE), CAST(85.4275 AS DOUBLE), CAST(7610122447262100204 AS BIGINT)),
  ('img_000000000010', CAST(141.9678 AS DOUBLE), CAST(93.9775 AS DOUBLE), CAST(7163776556097905842 AS BIGINT)),
  ('img_000000000011', CAST(140.9245 AS DOUBLE), CAST(90.5947 AS DOUBLE), CAST(453686313605097790 AS BIGINT)),
  ('img_000000000012', CAST(142.4937 AS DOUBLE), CAST(86.429 AS DOUBLE), CAST(3924948192538727248 AS BIGINT)),
  ('img_000000000013', CAST(136.0165 AS DOUBLE), CAST(93.6342 AS DOUBLE), CAST(1312592484026920597 AS BIGINT)),
  ('img_000000000014', CAST(143.5794 AS DOUBLE), CAST(91.0673 AS DOUBLE), CAST(7859801096693782541 AS BIGINT)),
  ('img_000000000015', CAST(142.9301 AS DOUBLE), CAST(85.7441 AS DOUBLE), CAST(4771896256926323190 AS BIGINT))
) AS t(image_id, mean_c0, edge_density, phash)
"""


def _sql_phash_neardup() -> str:
    """The planted near-dups are `phash XOR 3` twins → exactly one pair per
    image at hamming 2 (bits 0 and 1 flipped); no cross-image pair is within
    hamming 3 (LSH completeness for that is brute-force-tested in
    tests/test_spark_joins.py)."""
    rows = ",\n  ".join(
        f"('img_{i:012d}', 'img_{i:012d}_dup', CAST(2 AS INTEGER))"
        for i in range(64))
    return f"SELECT * FROM (VALUES\n  {rows}\n) AS t(id_a, id_b, hamming)"


def _sql_frame_sample() -> str:
    rows = ",\n  ".join(
        f"('vid_{v}', CAST({fi} AS INTEGER), CAST(16 AS INTEGER), CAST(12 AS INTEGER))"
        for v in range(6) for fi in (0, 10, 20))
    return (f"SELECT * FROM (VALUES\n  {rows}\n) "
            "AS t(video_id, frame_idx, w, h)")


SQL_SCOT_TRACKING = """
SELECT * FROM (VALUES
  ('a', CAST(4 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT),
   CAST(0.888889 AS DOUBLE), CAST(0.666667 AS DOUBLE), CAST(0.833333 AS DOUBLE)),
  ('b', CAST(4 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT),
   CAST(0.888889 AS DOUBLE), CAST(0.666667 AS DOUBLE), CAST(0.833333 AS DOUBLE))
) AS t(aoi, track_tp, track_fp, track_fn, track_score, change_score, combo_score)
"""


SQL_PIXEL_METRICS = """
SELECT * FROM (VALUES
  (CAST(0.245382 AS DOUBLE), CAST(0.394067 AS DOUBLE), CAST(1.0 AS DOUBLE))
) AS t(pixel_iou, f1, relaxed_f1)
"""


# ---------------------------------------------------------------------------
# Round-2 operator queries (inference tiler, nadir-bin rollup, road graph,
# dataset manifest, SpaceNet AOI eval) — oracles are genuine DuckDB
# re-computations where SQL can express the math; the SpaceNet eval oracle
# pins the reference's own published SN2_test_results.csv numbers.
# ---------------------------------------------------------------------------


def g_inference_tiler(spark, sf_dir):
    """Edge-clamped sliding window (InferenceTiler, nets/datagen.py:406-497):
    per-image tile count and clamped max top-left indices."""
    from solaris_spark.operators import tiling
    from solaris_spark.sources import synth
    images = synth.images_table(spark, 12, include_fixture=False)
    t = tiling.inference_tiles(images, (64, 64), y_step=48, x_step=48)
    return (t.groupBy("image_id")
            .agg(F.count(F.lit(1)).alias("n_tiles"),
                 F.max("row0").alias("max_row0"),
                 F.max("col0").alias("max_col0"))
            .orderBy("image_id"))


def _sql_inference_tiler() -> str:
    # deterministic seeded synth dims; DuckDB re-derives the clamp math
    # (1 + ceil((dim-size)/step) windows, last clamps to dim - size)
    dims = [("img_000000000000", 69, 249), ("img_000000000001", 96, 108),
            ("img_000000000002", 175, 168), ("img_000000000003", 127, 170),
            ("img_000000000004", 204, 156), ("img_000000000005", 166, 238),
            ("img_000000000006", 181, 102), ("img_000000000007", 156, 185),
            ("img_000000000008", 74, 98), ("img_000000000009", 229, 214),
            ("img_000000000010", 165, 170), ("img_000000000011", 113, 200)]
    vals = ",\n  ".join(f"('{i}', {w}, {h})" for i, w, h in dims)
    return f"""
WITH dims(image_id, w, h) AS (VALUES
  {vals})
SELECT image_id,
       CAST((1 + CAST(ceil((h - 64) / 48.0) AS BIGINT))
            * (1 + CAST(ceil((w - 64) / 48.0) AS BIGINT)) AS BIGINT) AS n_tiles,
       CAST(h - 64 AS INTEGER) AS max_row0,
       CAST(w - 64 AS INTEGER) AS max_col0
FROM dims ORDER BY image_id
"""


_NADIR_SCORES = [
    ("Atlanta_nadir7_catid_1030010003D22F00_1", 5, 1, 2),
    ("Atlanta_nadir7_catid_1030010003D22F00_2", 3, 1, 0),
    ("Atlanta_nadir27_catid_1030010003472200_1", 4, 2, 3),
    ("Atlanta_nadir42_catid_10300100035D1B00_1", 1, 4, 5),
    ("Atlanta_nadir53_catid_1030010003193D00_1", 2, 2, 2),
]


def g_nadir_rollup(spark, sf_dir):
    """SpaceNet-4 off-nadir scoring: imageID → nadir bin (regex + broadcast
    lookup, challenges.py:144-177) then sum-and-recompute rollup."""
    from solaris_spark.operators import challenges, evalops
    scores = spark.createDataFrame(
        _NADIR_SCORES,
        "image_id string, TruePos long, FalsePos long, FalseNeg long")
    binned = challenges.with_nadir_bin(scores)
    out = evalops.aoi_rollup(binned, aoi_col="nadir_category")
    return out.select(
        "nadir_category", "TruePos", "FalsePos", "FalseNeg",
        F.round("Precision", 6).alias("precision"),
        F.round("Recall", 6).alias("recall"),
        F.round("F1Score", 6).alias("f1")).orderBy("nadir_category")


def _sql_nadir_rollup() -> str:
    from solaris_spark.operators.challenges import OFF_NADIR_BINS
    score_vals = ",\n  ".join(
        f"('{i}', {tp}, {fp}, {fn})" for i, tp, fp, fn in _NADIR_SCORES)
    bin_vals = ",\n  ".join(f"('{k}', '{v}')"
                            for k, v in sorted(OFF_NADIR_BINS.items()))
    return f"""
WITH scores(image_id, tp, fp, fn) AS (VALUES
  {score_vals}),
bins(chip_id, nadir_category) AS (VALUES
  {bin_vals}),
keyed AS (
  SELECT regexp_extract(image_id,
           'Atlanta_nadir[0-9]{{1,2}}_catid_[0-9A-Z]{{16}}', 0) AS chip_id,
         tp, fp, fn
  FROM scores),
agg AS (
  SELECT nadir_category, CAST(SUM(tp) AS BIGINT) AS TruePos,
         CAST(SUM(fp) AS BIGINT) AS FalsePos,
         CAST(SUM(fn) AS BIGINT) AS FalseNeg
  FROM keyed JOIN bins USING (chip_id) GROUP BY nadir_category)
SELECT nadir_category, TruePos, FalsePos, FalseNeg,
       ROUND(CASE WHEN TruePos + FalsePos > 0
                  THEN TruePos / CAST(TruePos + FalsePos AS DOUBLE)
                  ELSE 0 END, 6) AS precision,
       ROUND(CASE WHEN TruePos + FalseNeg > 0
                  THEN TruePos / CAST(TruePos + FalseNeg AS DOUBLE)
                  ELSE 0 END, 6) AS recall,
       ROUND(CASE WHEN (TruePos / CAST(TruePos + FalsePos AS DOUBLE))
                       * (TruePos / CAST(TruePos + FalseNeg AS DOUBLE)) > 0
                  THEN 2 * (TruePos / CAST(TruePos + FalsePos AS DOUBLE))
                         * (TruePos / CAST(TruePos + FalseNeg AS DOUBLE))
                       / ((TruePos / CAST(TruePos + FalsePos AS DOUBLE))
                          + (TruePos / CAST(TruePos + FalseNeg AS DOUBLE)))
                  ELSE 0 END, 6) AS f1
FROM agg ORDER BY nadir_category
"""


_ROADS = [
    (1, "LINESTRING (0 0, 3 4, 6 8)"),
    (2, "LINESTRING (6 8, 10 8, 10 12)"),
    (3, "MULTILINESTRING ((0 0, 0 5), (20 20, 24 23, 28 26))"),
]


def g_road_graph(spark, sf_dir):
    """Road-graph construction (vector/graph.py geojson_to_graph): exploded
    vertices, deduped nodes, Euclidean edge weights — per-road edge count,
    total length, distinct touched nodes."""
    from solaris_spark.operators import graph as graphops
    roads = spark.createDataFrame(_ROADS, "road_id long, wkt string")
    nodes, edges = graphops.build_graph(roads)
    return (edges.groupBy("road_id")
            .agg(F.count(F.lit(1)).alias("n_edges"),
                 F.round(F.sum("weight"), 6).alias("total_len"),
                 F.countDistinct("src").alias("n_src_nodes"))
            .orderBy("road_id"))


def _sql_road_graph() -> str:
    # vertices of the same roads as (road_id, part, seq, x, y) — DuckDB
    # re-derives consecutive-vertex edges and Euclidean weights
    verts = []
    for rid, wkt in _ROADS:
        body = wkt.split(" ", 1)[1]
        parts = [p.strip(" ()") for p in body[1:-1].split("),")] \
            if wkt.startswith("MULTI") else [body.strip("()")]
        for pi, part in enumerate(parts):
            pts = [tuple(map(float, v.split())) for v in part.split(",")]
            verts += [(rid, pi, si, x, y) for si, (x, y) in enumerate(pts)]
    vals = ",\n  ".join(f"({r}, {p}, {s}, {x!r}::DOUBLE, {y!r}::DOUBLE)"
                        for r, p, s, x, y in verts)
    return f"""
WITH v(road_id, part, seq, x, y) AS (VALUES
  {vals}),
e AS (
  SELECT a.road_id, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
  FROM v a JOIN v b ON a.road_id = b.road_id AND a.part = b.part
                    AND b.seq = a.seq + 1)
SELECT road_id, CAST(COUNT(*) AS BIGINT) AS n_edges,
       ROUND(SUM(sqrt((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1))), 6)
         AS total_len,
       CAST(COUNT(DISTINCT (x1, y1)) AS BIGINT) AS n_src_nodes
FROM e GROUP BY road_id ORDER BY road_id
"""


def g_dataset_manifest(spark, sf_dir):
    """Image/label manifest builder (utils/data.py make_dataset_csv):
    stem matching + skip policy over a deterministic temp layout."""
    import os
    import tempfile

    from solaris_spark.sources import dataset
    d = tempfile.mkdtemp(prefix="manifest_q_")
    os.makedirs(f"{d}/im", exist_ok=True)
    os.makedirs(f"{d}/lb", exist_ok=True)
    for n in ("a", "b", "c"):
        open(f"{d}/im/{n}.tif", "w").write("x")
        open(f"{d}/lb/{n}.json", "w").write("x")
    open(f"{d}/im/orphan.tif", "w").write("x")
    m = dataset.make_dataset_manifest(spark, f"{d}/im", "tif",
                                      f"{d}/lb", "json",
                                      ignore_mismatch="skip")
    base = F.element_at(F.split(F.col("image"), "/"), -1)
    lbase = F.element_at(F.split(F.col("label"), "/"), -1)
    return m.select(base.alias("image"), lbase.alias("label")) \
        .orderBy("image")


SQL_DATASET_MANIFEST = """
SELECT * FROM (VALUES
  ('a.tif', 'a.json'), ('b.tif', 'b.json'), ('c.tif', 'c.json')
) AS t(image, label)
"""


def g_spacenet_aoi_eval(spark, sf_dir):
    """Full SpaceNet-2 competition scoring from the reference's own CSVs —
    the oracle VALUES are the reference's published SN2_test_results.csv."""
    from solaris_spark.operators import challenges
    ref = "/root/reference/solaris/data"
    per_bin, _ = challenges.spacenet_buildings_eval(
        spark, f"{ref}/SN2_sample_preds.csv", f"{ref}/SN2_sample_truth.csv",
        miniou=0.5, min_area=20, challenge="spacenet_2")
    return per_bin.select(
        "AOI", "TruePos", "FalsePos", "FalseNeg",
        F.round("Precision", 6).alias("precision"),
        F.round("Recall", 6).alias("recall"),
        F.round("F1Score", 6).alias("f1")).orderBy("AOI")


# the reference's own numbers (SN2_test_results.csv)
SQL_SPACENET_AOI = """
SELECT * FROM (VALUES
  ('AOI_2_Vegas', CAST(35 AS BIGINT), CAST(2 AS BIGINT), CAST(7 AS BIGINT),
   CAST(0.945946 AS DOUBLE), CAST(0.833333 AS DOUBLE), CAST(0.886076 AS DOUBLE)),
  ('AOI_5_Khartoum', CAST(52 AS BIGINT), CAST(55 AS BIGINT), CAST(75 AS BIGINT),
   CAST(0.485981 AS DOUBLE), CAST(0.409449 AS DOUBLE), CAST(0.444444 AS DOUBLE))
) AS t(AOI, TruePos, FalsePos, FalseNeg, precision, recall, f1)
"""


def g_ivf_knn_exact(spark, sf_dir):
    """IVF ANN with n_probe == n_cells: every cell is probed, so the result
    is PROVABLY exhaustive — this oracles the full IVF machinery (centroid
    training, cell assignment, probe, cosine refine, top-k) against a
    DuckDB brute force, while `ivf_knn` itself stays the approximate
    production path (rows-only)."""
    from solaris_spark.operators import ann
    e = _load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    t = e.select(F.col("vec_id").alias("tid"), F.col("embedding").alias("tv"))
    return (ann.ivf_knn(q, t, k=3, n_cells=8, n_probe=8)
            .withColumn("cosine", F.round("cosine", 6))
            .orderBy("qid", "rank"))


SQL_IVF_EXACT = """
WITH u AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
p AS (
  SELECT q.vec_id AS qid, t.vec_id AS tid,
         list_dot_product(q.v, t.v) /
           (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(t.v, t.v)))
           AS cosine
  FROM u q, u t WHERE q.vec_id < 10 AND q.vec_id != t.vec_id),
r AS (
  SELECT qid, tid, cosine,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, tid ASC)
           AS rank
  FROM p)
SELECT qid, tid, CAST(rank AS INTEGER) AS rank, ROUND(cosine, 6) AS cosine
FROM r WHERE rank <= 3 ORDER BY qid, rank
"""


def _s2_points():
    import numpy as np
    rng = np.random.default_rng(21)
    lats = rng.uniform(-80, 80, 400)
    lngs = rng.uniform(-179, 179, 400)
    return lats, lngs


def g_s2_cells(spark, sf_dir):
    """S2-style spherical cell keys (north_rule: H3/S2 cell encoding):
    seeded lat/lng points keyed at level 6, grouped per cell.  The oracle
    re-derives the FULL construction (cube face, gnomonic uv, quadratic
    st, quad ij) in DuckDB SQL from the same point literals."""
    from solaris_spark.operators import joins
    lats, lngs = _s2_points()
    df = spark.createDataFrame(
        [(int(i), float(a), float(b)) for i, (a, b) in
         enumerate(zip(lats, lngs))], "pid int, lat double, lng double")
    return (joins.with_s2_cell(df, level=6)
            .groupBy("s2_cell").agg(F.count(F.lit(1)).alias("n"),
                                    F.min("pid").alias("first_pid"))
            .orderBy("s2_cell"))


def _sql_s2_cells() -> str:
    lats, lngs = _s2_points()
    vals = ",\n  ".join(f"({i}, {a!r}::DOUBLE, {b!r}::DOUBLE)"
                        for i, (a, b) in enumerate(zip(lats, lngs)))
    return f"""
WITH pts(pid, lat, lng) AS (VALUES
  {vals}),
xyz AS (
  SELECT pid,
         cos(radians(lat)) * cos(radians(lng)) AS x,
         cos(radians(lat)) * sin(radians(lng)) AS y,
         sin(radians(lat)) AS z
  FROM pts),
fc AS (
  SELECT pid, x, y, z,
         CASE WHEN abs(x) >= abs(y) AND abs(x) >= abs(z)
              THEN CASE WHEN x >= 0 THEN 0 ELSE 3 END
              WHEN abs(y) >= abs(z)
              THEN CASE WHEN y >= 0 THEN 1 ELSE 4 END
              ELSE CASE WHEN z >= 0 THEN 2 ELSE 5 END END AS face
  FROM xyz),
uv AS (
  SELECT pid, face,
         CASE face WHEN 0 THEN y / x WHEN 1 THEN -x / y WHEN 2 THEN -x / z
                   WHEN 3 THEN z / x WHEN 4 THEN z / y ELSE -y / z END AS u,
         CASE face WHEN 0 THEN z / x WHEN 1 THEN z / y WHEN 2 THEN -y / z
                   WHEN 3 THEN y / x WHEN 4 THEN -x / y ELSE -x / z END AS v
  FROM fc),
st AS (
  SELECT pid, face,
         CASE WHEN u >= 0 THEN 0.5 * sqrt(1 + 3 * u)
              ELSE 1 - 0.5 * sqrt(1 - 3 * u) END AS s,
         CASE WHEN v >= 0 THEN 0.5 * sqrt(1 + 3 * v)
              ELSE 1 - 0.5 * sqrt(1 - 3 * v) END AS t
  FROM uv),
cells AS (
  SELECT pid,
         'f' || face || '_' ||
         CAST(LEAST(GREATEST(floor(s * 64), 0), 63) AS BIGINT) || '_' ||
         CAST(LEAST(GREATEST(floor(t * 64), 0), 63) AS BIGINT) || '@6'
           AS s2_cell
  FROM st)
SELECT s2_cell, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(pid) AS INTEGER) AS first_pid
FROM cells GROUP BY s2_cell ORDER BY s2_cell
"""


def g_tile_fidelity(spark, sf_dir):
    """BASELINE invariant check as a query: tile → stitch round trip per
    image with decoded-pixel PSNR (exact round trip ⇒ ∞, reported clamped
    at 99 ≥ the 40 dB bar) and caption equality through the pipeline."""
    from solaris_spark.functions import raster as R
    from solaris_spark.operators import imageops, tiling
    from solaris_spark.sources import synth

    images = synth.images_table(spark, 8, include_fixture=False)
    geo = synth.image_geo_table(spark, images)
    tiles = tiling.raster_tiles(tiling.with_geo(images, geo), (48, 48))
    stitched = imageops.stitch_tiles(
        tiles, images.select("image_id", "w", "h"))
    j = (stitched.withColumnRenamed("pixels", "rt_pixels")
         .withColumnRenamed("nchan", "rt_nchan")
         .join(images.select("image_id", "bytes", "w", "h", "fmt",
                             "caption"), ["image_id", "w", "h"]))

    @F.pandas_udf("double")
    def rt_psnr(orig: pd.Series, rt: pd.Series, w: pd.Series, h: pd.Series,
                nch: pd.Series) -> pd.Series:
        import numpy as np
        out = []
        for i in range(len(orig)):
            c = int(nch.iat[i])
            a = np.frombuffer(orig.iat[i], dtype=np.uint8).reshape(
                c, int(h.iat[i]), int(w.iat[i]))
            b = np.frombuffer(rt.iat[i], dtype=np.uint8).reshape(
                c, int(h.iat[i]), int(w.iat[i]))
            out.append(min(R.psnr(a, b), 99.0))
        return pd.Series(out)

    return (j.select(
        "image_id",
        F.round(rt_psnr("bytes", "rt_pixels", "w", "h", "rt_nchan"), 2)
        .alias("psnr_db"),
        # caption survives the pipeline join unchanged (caption-equality
        # invariant); deterministic seeded value → oracle-checkable
        F.md5(F.col("caption")).alias("caption_md5"))
        .orderBy("image_id"))


def _sql_tile_fidelity() -> str:
    from solaris_spark.sources import synth
    rows = [synth.synth_image_row(42, i, 64, 256) for i in range(8)]
    vals = ",\n  ".join(
        f"('{r['image_id']}', CAST(99.0 AS DOUBLE), md5('{r['caption']}'))"
        for r in rows)
    return (f"SELECT * FROM (VALUES\n  {vals}\n) "
            "AS t(image_id, psnr_db, caption_md5)")




# ivf_knn is approximate by DESIGN (n_probe < n_cells) — its correctness
# evidence is the exhaustive-mode twin `ivf_knn_exact` (DuckDB brute-force
# hash-green) plus the recall-vs-brute-force tests.  This VALUES oracle
# pins the approximate path's DETERMINISM: seeded centroids + stable
# argmin/argsort tie-breaks make the output bit-stable across cluster
# sizes (verified identical at local[4] and local[16]).
SQL_IVF_KNN = """
SELECT * FROM (VALUES
  (CAST(0 AS BIGINT), CAST(365 AS BIGINT), CAST(1 AS INTEGER), CAST(0.369994 AS DOUBLE)),
  (CAST(0 AS BIGINT), CAST(334 AS BIGINT), CAST(2 AS INTEGER), CAST(0.362722 AS DOUBLE)),
  (CAST(0 AS BIGINT), CAST(387 AS BIGINT), CAST(3 AS INTEGER), CAST(0.331139 AS DOUBLE)),
  (CAST(1 AS BIGINT), CAST(386 AS BIGINT), CAST(1 AS INTEGER), CAST(0.371485 AS DOUBLE)),
  (CAST(1 AS BIGINT), CAST(27 AS BIGINT), CAST(2 AS INTEGER), CAST(0.348208 AS DOUBLE)),
  (CAST(1 AS BIGINT), CAST(407 AS BIGINT), CAST(3 AS INTEGER), CAST(0.32701 AS DOUBLE)),
  (CAST(2 AS BIGINT), CAST(117 AS BIGINT), CAST(1 AS INTEGER), CAST(0.318143 AS DOUBLE)),
  (CAST(2 AS BIGINT), CAST(450 AS BIGINT), CAST(2 AS INTEGER), CAST(0.266344 AS DOUBLE)),
  (CAST(2 AS BIGINT), CAST(145 AS BIGINT), CAST(3 AS INTEGER), CAST(0.263494 AS DOUBLE)),
  (CAST(3 AS BIGINT), CAST(130 AS BIGINT), CAST(1 AS INTEGER), CAST(0.399872 AS DOUBLE)),
  (CAST(3 AS BIGINT), CAST(149 AS BIGINT), CAST(2 AS INTEGER), CAST(0.329934 AS DOUBLE)),
  (CAST(3 AS BIGINT), CAST(343 AS BIGINT), CAST(3 AS INTEGER), CAST(0.308472 AS DOUBLE)),
  (CAST(4 AS BIGINT), CAST(114 AS BIGINT), CAST(1 AS INTEGER), CAST(0.398513 AS DOUBLE)),
  (CAST(4 AS BIGINT), CAST(496 AS BIGINT), CAST(2 AS INTEGER), CAST(0.341212 AS DOUBLE)),
  (CAST(4 AS BIGINT), CAST(408 AS BIGINT), CAST(3 AS INTEGER), CAST(0.322753 AS DOUBLE)),
  (CAST(5 AS BIGINT), CAST(404 AS BIGINT), CAST(1 AS INTEGER), CAST(0.328403 AS DOUBLE)),
  (CAST(5 AS BIGINT), CAST(419 AS BIGINT), CAST(2 AS INTEGER), CAST(0.319237 AS DOUBLE)),
  (CAST(5 AS BIGINT), CAST(157 AS BIGINT), CAST(3 AS INTEGER), CAST(0.311256 AS DOUBLE)),
  (CAST(6 AS BIGINT), CAST(350 AS BIGINT), CAST(1 AS INTEGER), CAST(0.324518 AS DOUBLE)),
  (CAST(6 AS BIGINT), CAST(430 AS BIGINT), CAST(2 AS INTEGER), CAST(0.32252 AS DOUBLE)),
  (CAST(6 AS BIGINT), CAST(145 AS BIGINT), CAST(3 AS INTEGER), CAST(0.297696 AS DOUBLE)),
  (CAST(7 AS BIGINT), CAST(340 AS BIGINT), CAST(1 AS INTEGER), CAST(0.492766 AS DOUBLE)),
  (CAST(7 AS BIGINT), CAST(425 AS BIGINT), CAST(2 AS INTEGER), CAST(0.40752 AS DOUBLE)),
  (CAST(7 AS BIGINT), CAST(209 AS BIGINT), CAST(3 AS INTEGER), CAST(0.394463 AS DOUBLE)),
  (CAST(8 AS BIGINT), CAST(39 AS BIGINT), CAST(1 AS INTEGER), CAST(0.384696 AS DOUBLE)),
  (CAST(8 AS BIGINT), CAST(138 AS BIGINT), CAST(2 AS INTEGER), CAST(0.356671 AS DOUBLE)),
  (CAST(8 AS BIGINT), CAST(403 AS BIGINT), CAST(3 AS INTEGER), CAST(0.338238 AS DOUBLE)),
  (CAST(9 AS BIGINT), CAST(49 AS BIGINT), CAST(1 AS INTEGER), CAST(0.385171 AS DOUBLE)),
  (CAST(9 AS BIGINT), CAST(414 AS BIGINT), CAST(2 AS INTEGER), CAST(0.3323 AS DOUBLE)),
  (CAST(9 AS BIGINT), CAST(386 AS BIGINT), CAST(3 AS INTEGER), CAST(0.322118 AS DOUBLE))
) AS t(qid, tid, rank, cosine)
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pricing_rollup": q_pricing_rollup,
        "score_rollup": q_score_rollup,
        "topk_per_group": q_topk_per_group,
        "conf_cumsum": q_conf_cumsum,
        "broadcast_lookup": q_broadcast_lookup,
        "set_ops": q_set_ops,
        "semi_anti": q_semi_anti,
        "percentiles": q_percentiles,
        "grouping_rollup": q_grouping_rollup,
        "bounds_agg": q_bounds_agg,
        "event_windows": q_event_windows,
        "sessionize": q_sessionize,
        "dedup_exact": q_dedup_exact,
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_lsh": q_minhash_lsh,
        "dedup_clusters": q_dedup_clusters,
        "simhash": q_simhash,
        "embedding_knn": q_embedding_knn,
        "lang_id": q_lang_id,
        "quality_score": q_quality_score,
        "token_counts": q_token_counts,
        "fingerprint": q_fingerprint,
        "winnow_fingerprints": q_winnow,
        "clean_text": q_clean_text,
        "tile_pipeline": g_tile_pipeline,
        "greedy_match": g_greedy_match,
        "masks_fbc": g_masks,
        "knn_spatial": g_knn_spatial,
        "phash_neardup": g_phash_neardup,
        "lineage_resume": g_lineage_resume,
        "bpe_tokens": q_bpe_tokens,
        "simhash_pairs": g_simhash_pairs,
        "embedding_neardup": g_embedding_neardup,
        "ivf_knn": g_ivf_knn,
        "image_features": g_image_features,
        "crop_stats": g_crop_stats,
        "windowed_tiles": g_windowed_tiles,
        "windowed_tiles_cog": g_windowed_tiles_cog,
        "lzw_tiles": g_lzw_tiles,
        "jpeg_cog_tiles": g_jpeg_cog_tiles,
        "dem_float_tiles": g_dem_float_tiles,
        "overview_avg_tiles": g_overview_avg_tiles,
        "overview_tiles": g_overview_tiles,
        "bigtiff_tiles": g_bigtiff_tiles,
        "resize_stats": g_resize_stats,
        "webmerc_project": g_webmerc_project,
        "png_features": g_png_features,
        "jpeg_features": g_jpeg_features,
        "warp_resample": g_warp_resample,
        "frame_sample": g_frame_sample,
        "audio_features": g_audio_features,
        "scot_tracking": g_scot,
        "pixel_metrics": g_pixel_metrics,
        "inference_tiler": g_inference_tiler,
        "nadir_rollup": g_nadir_rollup,
        "road_graph": g_road_graph,
        "dataset_manifest": g_dataset_manifest,
        "spacenet_aoi_eval": g_spacenet_aoi_eval,
        "tile_fidelity": g_tile_fidelity,
        "ivf_knn_exact": g_ivf_knn_exact,
        "s2_cells": g_s2_cells,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "pricing_rollup": SQL_PRICING,
        "score_rollup": SQL_SCORE,
        "topk_per_group": SQL_TOPK,
        "conf_cumsum": SQL_CUMSUM,
        "broadcast_lookup": SQL_BROADCAST,
        "set_ops": SQL_SETOPS,
        "semi_anti": SQL_SEMIANTI,
        "percentiles": SQL_PERCENTILES,
        "grouping_rollup": SQL_ROLLUP,
        "bounds_agg": SQL_BOUNDS,
        "event_windows": SQL_EVENT_WINDOWS,
        "sessionize": SQL_SESSIONIZE,
        "dedup_exact": SQL_DEDUP,
        "ngram_jaccard": SQL_NGRAM_JACCARD,
        "minhash_lsh": _sql_minhash(),
        "dedup_clusters": _sql_dedup_clusters(),
        "simhash": SQL_SIMHASH,
        "embedding_knn": SQL_EMB_KNN,
        "lang_id": SQL_LANG_ID,
        "quality_score": SQL_QUALITY,
        "token_counts": SQL_TOKEN_COUNTS,
        "fingerprint": SQL_FINGERPRINT,
        "winnow_fingerprints": SQL_WINNOW,
        "clean_text": SQL_CLEAN_TEXT,
        "bpe_tokens": SQL_BPE,
        "tile_pipeline": SQL_TILE_PIPELINE,
        "greedy_match": SQL_GREEDY_MATCH,
        "masks_fbc": SQL_MASKS_FBC,
        "knn_spatial": _sql_knn_spatial(),
        "phash_neardup": _sql_phash_neardup(),
        "lineage_resume": SQL_LINEAGE_RESUME,
        "simhash_pairs": SQL_SIMHASH_PAIRS,
        "embedding_neardup": SQL_EMBEDDING_NEARDUP,
        "image_features": SQL_IMAGE_FEATURES,
        "crop_stats": SQL_CROP_STATS,
        "windowed_tiles": SQL_WINDOWED_TILES,
        "windowed_tiles_cog": SQL_WINDOWED_TILES_COG,
        "lzw_tiles": SQL_LZW_TILES,
        "jpeg_cog_tiles": SQL_JPEG_COG_TILES,
        "dem_float_tiles": SQL_DEM_FLOAT_TILES,
        "overview_avg_tiles": SQL_OVERVIEW_AVG_TILES,
        "overview_tiles": SQL_OVERVIEW_TILES,
        "bigtiff_tiles": SQL_BIGTIFF_TILES,
        "resize_stats": SQL_RESIZE_STATS,
        "webmerc_project": SQL_WEBMERC,
        "png_features": SQL_PNG_FEATURES,
        "jpeg_features": SQL_JPEG_FEATURES,
        "warp_resample": SQL_WARP_RESAMPLE,
        "frame_sample": _sql_frame_sample(),
        "audio_features": SQL_AUDIO_FEATURES,
        "scot_tracking": SQL_SCOT_TRACKING,
        "pixel_metrics": SQL_PIXEL_METRICS,
        "inference_tiler": _sql_inference_tiler(),
        "nadir_rollup": _sql_nadir_rollup(),
        "road_graph": _sql_road_graph(),
        "dataset_manifest": SQL_DATASET_MANIFEST,
        "spacenet_aoi_eval": SQL_SPACENET_AOI,
        "tile_fidelity": _sql_tile_fidelity(),
        "ivf_knn_exact": SQL_IVF_EXACT,
        "ivf_knn": SQL_IVF_KNN,
        "s2_cells": _sql_s2_cells(),
    }
