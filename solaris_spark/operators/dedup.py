"""Deduplication operators for large-scale training-data pipelines:
exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

All hash families are md5-derived (deterministic, reproducible in any
engine — the DuckDB oracles in __spark_entry__ recompute them bit-for-bit).
Everything below is shuffle-lean: shingle/band explosion followed by
equi-joins; no crossJoin anywhere except the documented brute-force ANN
baseline in ann.py.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from .blobs import scalar_udf

# md5 hex → integer, identical in Spark and DuckDB
def _md5_int(col):
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def _spread(df: DataFrame) -> DataFrame:
    """Cluster-parallelism guard for the CPU-heavy shingle/token hashing
    stages (plans.skew.ensure_parallelism; guide §2.5 input-skew fix)."""
    from ..plans.skew import ensure_parallelism
    return ensure_parallelism(df)


def _shingles(df: DataFrame, text_col: str, n: int = 3):
    """Distinct word n-gram shingles exploded to (id cols…, s)."""
    toks = F.split(F.col(text_col), " ")
    expr = (f"array_distinct(transform(sequence(0, size(_t)-{n}), "
            f"i -> concat_ws(' ', {', '.join(f'_t[i+{k}]' for k in range(n))})))")
    return (df.withColumn("_t", toks)
            .withColumn("s", F.explode(F.expr(expr)))
            .drop("_t"))


def exact_dedup(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup: one row per content hash with group size
    and the keeper (min id).  O(1 shuffle) at any scale."""
    return (docs.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
            .agg(F.count(F.lit(1)).alias("n_copies"),
                 F.min(id_col).alias("keeper")))


def ngram_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        threshold: float = 0.4,
                        max_doc_freq: int | None = None) -> DataFrame:
    """Exact word-n-gram Jaccard pairs ≥ threshold via shingle equi-join.

    Cost ∝ Σ_shingle df(shingle)² — `max_doc_freq` drops stop-shingles
    (document frequency > cap) BEFORE the self-join, bounding the worst
    bucket at cap² pairs; that's the 100 TB knob (a handful of boilerplate
    shingles otherwise dominate the join).  Jaccard denominators still use
    the FULL shingle-set sizes, so capped scores are a lower bound of the
    exact ones (capped-out shingles can only lose intersection credit).
    None = exact."""
    sh = _shingles(_spread(docs.select(id_col, text_col)), text_col, n) \
        .select(F.col(id_col).alias("_id"), "s")
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("n_sh"))
    if max_doc_freq is not None:
        df_per_shingle = sh.groupBy("s").agg(
            F.count(F.lit(1)).alias("_df"))
        sh = (sh.join(df_per_shingle.filter(F.col("_df") <= max_doc_freq)
                      .select("s"), "s"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (a.join(b, (F.col("a.s") == F.col("b.s"))
                    & (F.col("a._id") < F.col("b._id")))
             .groupBy(F.col("a._id").alias("da"), F.col("b._id").alias("db"))
             .agg(F.count(F.lit(1)).alias("inter")))
    sa = sizes.select(F.col("_id").alias("da"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("_id").alias("db"), F.col("n_sh").alias("nb"))
    return (pairs.join(sa, "da").join(sb, "db")
            .withColumn("jaccard",
                        F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
            .filter(F.col("jaccard") >= threshold)
            .select("da", "db", "jaccard"))


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n_hashes: int = 16,
                       shingle_n: int = 3) -> DataFrame:
    """MinHash signature per doc: min over shingles of h_i(s), with the
    whole hash family derived from ONE md5 per shingle
    (Kirsch–Mitzenmacher double hashing: h_i = (h1 + i·h2) mod 2³²,
    h1/h2 = two 32-bit words of the digest) — 16× less hashing on the
    dominant stage vs one md5 per family member (VERDICT r01), still
    bit-reproducible in DuckDB.  One shuffle (groupBy id)."""
    sh = _shingles(_spread(docs.select(id_col, text_col)), text_col, shingle_n)
    # materialize the digest once per shingle in its own projection: the
    # two 32-bit words then slice ONE md5 evaluation rather than relying
    # on codegen subexpression elimination to dedupe two md5(s) calls
    hashed = sh.select(id_col, F.md5(F.col("s")).alias("_d")).select(
        id_col,
        F.conv(F.substring(F.col("_d"), 1, 8), 16, 10)
        .cast("long").alias("_h1"),
        F.conv(F.substring(F.col("_d"), 9, 8), 16, 10)
        .cast("long").alias("_h2"))
    fam = [F.pmod(F.col("_h1") + F.lit(i) * F.col("_h2"),
                  F.lit(4294967296)).alias(f"h{i}")
           for i in range(n_hashes)]
    return (hashed.select(id_col, *fam)
            .groupBy(id_col)
            .agg(*[F.min(f"h{i}").alias(f"m{i}") for i in range(n_hashes)]))


def minhash_lsh_pairs(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n_hashes: int = 16,
                      bands: int = 4, shingle_n: int = 3) -> DataFrame:
    """Candidate near-dup pairs: signature → bands of r = n_hashes/bands
    rows → bucket equi-join.  P[candidate] = 1 − (1 − j^r)^b — the classic
    LSH S-curve; bands/r tune the threshold."""
    r = n_hashes // bands
    sig = minhash_signatures(docs, id_col, text_col, n_hashes, shingle_n)
    band_cols = [
        F.concat_ws("_", *[F.col(f"m{b * r + j}").cast("string")
                           for j in range(r)]).alias(f"band{b}")
        for b in range(bands)]
    stacked = sig.select(id_col, *band_cols).select(
        id_col,
        F.explode(F.array(*[
            F.concat(F.lit(f"{b}:"), F.col(f"band{b}")) for b in range(bands)
        ])).alias("bucket"))
    a, b_ = stacked.alias("a"), stacked.alias("b")
    return (a.join(b_, (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("da"),
                    F.col(f"b.{id_col}").alias("db"))
            .distinct())


def simhash(docs: DataFrame, id_col: str = "doc_id",
            text_col: str = "text", bits: int = 32) -> DataFrame:
    """SimHash per doc: sign of per-bit ±1 sums over token hashes.

    One conditional aggregate per bit over the token rows (map-side
    partial agg; NO bit explosion — the previous formulation shuffled
    tokens×bits rows, 32× the input; VERDICT r01 #5).  All JVM-side.

    The parallelism guard carries a 1 MB size floor (pruned-plan
    estimate; ≈10 MB raw text ≈ 2M+ tokens ≈ >1.5 s of serial hashing —
    the measured crossover): below it the rebalance shuffle costs more
    than the serial stage saves (sf0.1, est 0.25 MB: spread lost
    0.1-0.3 s), above it the serial stage dominates (10× sf, est
    1.8 MB: serial 3.8-9.3 s vs spread 1.3 s — OPTIMIZATION_r06.md)."""
    from ..plans.skew import ensure_parallelism
    tok = (ensure_parallelism(docs.select(id_col, text_col),
                              min_bytes=1024 * 1024)
           .select(id_col, F.explode(F.split(text_col, " ")).alias("tok"))
           .withColumn("h", _md5_int(F.col("tok"))))
    sums = [F.sum(F.when(F.expr(f"shiftrightunsigned(h, {b}) % 2") == 1,
                         1).otherwise(-1)).alias(f"s{b}")
            for b in range(bits)]
    agg = tok.groupBy(id_col).agg(*sums)
    sim = None
    for b in range(bits):
        term = F.when(F.col(f"s{b}") > 0,
                      F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        sim = term if sim is None else sim + term
    return agg.select(id_col, sim.alias("simhash"))


def simhash_near_dup_pairs(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", bits: int = 32,
                           max_hamming: int = 3, bands: int = 4) -> DataFrame:
    """SimHash near-dup pairs via the same band-bucket trick as phash
    (pigeonhole-complete for max_hamming ≤ bands − 1)."""
    from .joins import hamming_col
    sh = simhash(docs, id_col, text_col, bits)
    width = bits // bands
    mask = (1 << width) - 1
    stacked = sh.select(
        id_col, "simhash",
        F.explode(F.array(*[
            F.concat(F.lit(f"{i}:"),
                     F.shiftrightunsigned(F.col("simhash"), i * width)
                     .bitwiseAND(F.lit(mask)).cast("string"))
            for i in range(bands)])).alias("bucket"))
    a, b = stacked.alias("a"), stacked.alias("b")
    return (a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .withColumn("hamming", hamming_col(F.col("a.simhash"),
                                               F.col("b.simhash")))
            .filter(F.col("hamming") <= max_hamming)
            .select(F.col(f"a.{id_col}").alias("da"),
                    F.col(f"b.{id_col}").alias("db"), "hamming")
            .distinct())


def embedding_near_dup_pairs(emb: DataFrame, id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             threshold: float = 0.95,
                             n_planes: int = 16,
                             seed: int = 42) -> DataFrame:
    """Embedding-cosine near-dups via random-hyperplane (SRP) LSH:
    sign-sketch each vector against n_planes seeded hyperplanes, bucket on
    the sketch, refine with exact cosine ≥ threshold.

    The (n_planes × dim) plane matrix rides in the closure of one scalar
    Arrow UDF (a single matrix product per batch), not in unrolled SQL
    literal arrays, whose codegen cost grows with n_planes × dim (~12k
    literals at dim=768).  ann.py's docstring says how PySpark ships a
    large closure, as it does the IVF centroids."""
    rng = np.random.default_rng(seed)
    dim_probe = len(emb.select(vec_col).first()[0])
    P = rng.standard_normal((n_planes, dim_probe))

    @scalar_udf(T.StringType())
    def srp_sketch(v):
        X = np.asarray([np.asarray(x, dtype=np.float64) for x in v])
        bits = (X @ P.T) >= 0.0
        return ["".join("1" if b else "0" for b in row) for row in bits]

    s = emb.select(id_col, vec_col, srp_sketch(F.col(vec_col)).alias("sketch"))
    a, b = s.alias("a"), s.alias("b")
    j = a.join(b, (F.col("a.sketch") == F.col("b.sketch"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
    dot = F.expr("aggregate(zip_with(a.embedding, b.embedding, (x, y) -> "
                 "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)")
    na = F.expr("sqrt(aggregate(a.embedding, 0D, (acc, x) -> acc + CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))")
    nb = F.expr("sqrt(aggregate(b.embedding, 0D, (acc, x) -> acc + CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))")
    return (j.withColumn("cosine", dot / (na * nb))
            .filter(F.col("cosine") >= threshold)
            .select(F.col(f"a.{id_col}").alias("da"),
                    F.col(f"b.{id_col}").alias("db"), "cosine"))


def dedup_clusters(docs: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id") -> DataFrame:
    """Duplicate CLUSTERS from near-dup PAIRS: connected components over
    the pair graph (alternating star contraction, graph.connected_components
    — O(log^2 n) shuffle rounds, diameter-independent).

    Pair emitters (minhash_lsh_pairs / simhash_near_dup_pairs /
    ngram_jaccard_pairs / embedding_near_dup_pairs) return edges (da, db);
    a real corpus-dedup pipeline needs the transitive closure — A~B, B~C
    must dedup {A,B,C} together even when A~C was never emitted (chained
    near-dups are the common case for boilerplate families at 100 TB).
    cluster_id = min doc id of the cluster; every document appears exactly
    once (singletons cluster as themselves).
    """
    from .graph import connected_components
    nodes = docs.select(F.col(id_col).alias("node_id")).distinct()
    edges = pairs.select(F.col("da").alias("src"), F.col("db").alias("dst"))
    comp = connected_components(nodes, edges)
    return comp.select(F.col("node_id").alias(id_col),
                       F.col("component").alias("cluster_id"))
