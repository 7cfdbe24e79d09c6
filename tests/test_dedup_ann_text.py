"""Dedup / ANN / text / multimodal operator tests with brute-force oracles."""

import numpy as np
import pytest
import pyspark.sql.functions as F

from solaris_spark.functions import pixfmt
from solaris_spark.operators import ann, dedup, multimodal, text


@pytest.fixture(scope="module")
def docs(spark):
    """Synthetic corpus with planted near-dups: 40 base docs, 10 shuffled
    copies, 5 exact copies."""
    rng = np.random.default_rng(12)
    vocab = [f"w{i}" for i in range(50)]
    rows = []
    for i in range(40):
        toks = list(rng.choice(vocab, size=rng.integers(20, 60)))
        rows.append((i, " ".join(toks), "base"))
    for j in range(10):  # shuffled copy of doc j (same multiset)
        toks = rows[j][1].split(" ")
        rng.shuffle(toks)
        rows.append((100 + j, " ".join(toks), "shuffle"))
    for j in range(5):  # exact copy
        rows.append((200 + j, rows[j][1], "copy"))
    return spark.createDataFrame(rows, "doc_id long, text string, kind string")


class TestDedup:
    def test_exact_dedup_finds_planted_copies(self, spark, docs):
        groups = dedup.exact_dedup(docs).filter(F.col("n_copies") > 1).collect()
        assert len(groups) == 5
        assert all(g["n_copies"] == 2 for g in groups)

    def test_ngram_jaccard_exact_copies_have_j1(self, spark, docs):
        pairs = {(r["da"], r["db"]): r["jaccard"] for r in
                 dedup.ngram_jaccard_pairs(docs, threshold=0.99).collect()}
        for j in range(5):
            assert pairs.get((j, 200 + j)) == pytest.approx(1.0)

    def test_minhash_lsh_superset_of_exact_copies(self, spark, docs):
        cand = {(r["da"], r["db"]) for r in
                dedup.minhash_lsh_pairs(docs).collect()}
        for j in range(5):
            assert (j, 200 + j) in cand  # identical signature → all bands match

    def test_simhash_identical_for_copies(self, spark, docs):
        sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
        for j in range(5):
            assert sh[j] == sh[200 + j]
        for j in range(10):  # shuffled copies: same token multiset → same hash
            assert sh[j] == sh[100 + j]

    def test_embedding_near_dup_recall(self, spark):
        rng = np.random.default_rng(3)
        base = rng.standard_normal((60, 16))
        rows = [(i, [float(v) for v in base[i]]) for i in range(60)]
        rows += [(1000 + i, [float(v) for v in base[i] * 1.0001])
                 for i in range(20)]  # near-identical twins
        e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        pairs = {(r["da"], r["db"]) for r in
                 dedup.embedding_near_dup_pairs(e, threshold=0.999).collect()}
        found = sum((i, 1000 + i) in pairs for i in range(20))
        assert found == 20  # identical-direction twins share every SRP bucket


    def test_ngram_jaccard_doc_freq_cap(self, spark):
        """max_doc_freq drops stop-shingles before the self-join (the 100 TB
        knob): the planted near-dup pair survives because its distinctive
        shingles are rare, while the boilerplate shingle shared by every doc
        no longer contributes candidate pairs."""
        boiler = "lorem ipsum dolor sit"
        rows = [(i, boiler + f" unique{i} filler{i} tail{i}") for i in range(20)]
        rows.append((100, "alpha beta gamma delta epsilon zeta"))
        rows.append((101, "alpha beta gamma delta epsilon eta"))
        d = spark.createDataFrame(rows, "doc_id long, text string")
        capped = dedup.ngram_jaccard_pairs(d, threshold=0.3, max_doc_freq=5)
        pairs = {(r["da"], r["db"]) for r in capped.collect()}
        assert (100, 101) in pairs
        # every boilerplate-only pair is gone (their shared shingles have
        # doc freq 20 > 5 and they share nothing else)
        assert all(da >= 100 for da, _ in pairs)


class TestAnn:
    def test_ivf_recall_vs_brute_force(self, spark):
        rng = np.random.default_rng(8)
        t = rng.standard_normal((300, 16))
        tdf = spark.createDataFrame(
            [(i, [float(v) for v in t[i]]) for i in range(300)],
            "tid long, tv array<float>")
        qdf = spark.createDataFrame(
            [(i, [float(v) for v in t[i]]) for i in range(20)],
            "qid long, qv array<float>")
        exact = ann.brute_force_knn(qdf, tdf, k=5)
        approx = ann.ivf_knn(qdf, tdf, k=5, n_cells=8, n_probe=4)
        ex = {(r["qid"], r["tid"]) for r in exact.collect()}
        ap = {(r["qid"], r["tid"]) for r in approx.collect()}
        recall = len(ex & ap) / len(ex)
        assert recall >= 0.8, recall


    def test_ivf_n_cells_256_no_plan_blowup(self, spark):
        """n_cells=256 on the real embeddings table: the broadcast-centroid
        pandas-UDF path keeps the plan size independent of n_cells x dim
        (the old unrolled-literal expression blew up codegen past ~100
        cells; VERDICT r01 #6).  Recall vs brute force still >= 0.8."""
        e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        t = e.selectExpr("vec_id as tid", "embedding as tv")
        q = (e.filter("vec_id < 15")
             .selectExpr("vec_id as qid", "embedding as qv"))
        approx = ann.ivf_knn(q, t, k=3, n_cells=256, n_probe=32)
        # plan stays small: no 256 x dim literal arrays in the tree
        plan = approx._jdf.queryExecution().analyzed().toString()
        assert len(plan) < 200_000, len(plan)
        exact = ann.brute_force_knn(q, t, k=3)
        ex = {(r["qid"], r["tid"]) for r in exact.collect()}
        ap = {(r["qid"], r["tid"]) for r in approx.collect()}
        assert len(ex & ap) / len(ex) >= 0.8

    def test_brute_force_self_neighbor_excluded(self, spark):
        v = [(0, [1.0, 0.0]), (1, [1.0, 0.01]), (2, [0.0, 1.0])]
        t = spark.createDataFrame(v, "tid long, tv array<float>")
        q = spark.createDataFrame([(0, [1.0, 0.0])], "qid long, qv array<float>")
        rows = ann.brute_force_knn(q, t, k=2).collect()
        assert rows[0]["tid"] == 1  # nearest non-self


class TestText:
    def test_lang_id_deterministic_argmax(self, spark):
        d = spark.createDataFrame(
            [(1, "the data value the"), (2, "der und der"), (3, "le et le")],
            "doc_id long, text string")
        out = {r["doc_id"]: r["lang_guess"] for r in text.lang_id(d).collect()}
        assert out == {1: "en", 2: "de", 3: "fr"}

    def test_quality_and_tokens(self, spark):
        d = spark.createDataFrame([(1, "a bb ccc dddd", "s")],
                                  "doc_id long, text string, source string")
        q = text.quality_scores(d).collect()[0]
        assert q["n_tokens"] == 4
        assert q["mean_word_len"] == pytest.approx((13 - 4 + 1) / 4)
        assert q["punct_ratio"] == 0.0
        dp = spark.createDataFrame([(2, "hi, there! ok?", "s")],
                                   "doc_id long, text string, source string")
        qp = text.quality_scores(dp).collect()[0]
        assert qp["punct_ratio"] == pytest.approx(3 / 14)
        tc = text.token_counts(d).collect()[0]
        assert tc["total_tokens"] == 4
        bpe = text.bpe_ish_token_counts(d).collect()[0]
        assert bpe["bpe_ish_tokens"] == 4

    def test_fingerprint_order_insensitive(self, spark):
        d = spark.createDataFrame([(1, "x y z"), (2, "z y x"), (3, "x y w")],
                                  "doc_id long, text string")
        fps = {r["doc_id"]: r["fingerprint"] for r in
               text.fingerprints(d).collect()}
        assert fps[1] == fps[2] != fps[3]


class TestMultimodal:
    def test_image_features_and_resize(self, spark):
        from solaris_spark.sources import synth
        images = synth.images_table(spark, 4, include_fixture=False)
        feats = multimodal.image_features(images).collect()
        assert len(feats) == 4 and all(len(f["mean"]) == 3 for f in feats)
        small = multimodal.resize_images(images, 32, 32).collect()
        assert all(r["w"] == 32 and r["h"] == 32 for r in small)
        arr = np.frombuffer(small[0]["bytes"], dtype=np.uint8)
        assert len(arr) == 3 * 32 * 32

    def test_crop_pixel_matches_numpy_slice(self, spark):
        from solaris_spark.sources import synth
        images = synth.images_table(spark, 2, include_fixture=False)
        src = {r["image_id"]: r for r in images.collect()}
        # bounds [left, bottom, right, top], INCLUSIVE (reference Crop:
        # gdal srcWin width = right-left+1, height = bottom-top+1)
        out = {r["image_id"]: r for r in
               multimodal.crop_images(images, [3, 40, 20, 5]).collect()}
        assert set(out) == set(src)
        for iid, r in out.items():
            s = src[iid]
            arr = pixfmt.decode(
                s["fmt"], bytes(s["bytes"]), s["w"], s["h"])
            exp = arr[:, 5:41, 3:21]
            assert (r["w"], r["h"]) == (18, 36)
            got = pixfmt.decode(
                r["fmt"], bytes(r["bytes"]), r["w"], r["h"])
            assert np.array_equal(got, exp)
        # clamped: a window larger than the image returns the whole image
        full = multimodal.crop_images(images, [0, 10**6, 10**6, 0]).collect()
        for r in full:
            s = src[r["image_id"]]
            assert (r["w"], r["h"]) == (s["w"], s["h"])
            assert bytes(r["bytes"]) == bytes(s["bytes"])

    def test_crop_geo_shifts_affine(self, spark):
        from solaris_spark.sources import synth
        one = synth.images_table(spark, 1, include_fixture=False)
        gt = [100.0, 2.0, 0.0, 500.0, 0.0, -2.0]
        geo = one.withColumn(
            "transform",
            F.array(*[F.lit(v) for v in gt]).cast("array<double>"))
        s = one.collect()[0]
        # geo bounds [left, bottom, right, top] → pixel window via the affine
        out = multimodal.crop_images(
            geo, [108.0, 468.0, 120.0, 488.0], mode="geo").collect()[0]
        arr = pixfmt.decode(
            s["fmt"], bytes(s["bytes"]), s["w"], s["h"])
        exp = arr[:, 6:16, 4:10]
        assert (out["w"], out["h"]) == (6, 10)
        got = pixfmt.decode(
            out["fmt"], bytes(out["bytes"]), out["w"], out["h"])
        assert np.array_equal(got, exp)
        assert list(out["transform"]) == [108.0, 2.0, 0.0, 488.0, 0.0, -2.0]

    def test_crop_geo_misaligned_matches_gdal_translate(self, spark):
        """Bounds NOT on pixel edges: gdal.Translate floors offsets
        (+0.001 px eps) and derives sizes from the extent — independently
        rounding each corner can be one pixel off (ADVICE r3)."""
        from solaris_spark.sources import synth
        one = synth.images_table(spark, 1, include_fixture=False)
        gt = [100.0, 2.0, 0.0, 500.0, 0.0, -2.0]
        geo = one.withColumn(
            "transform",
            F.array(*[F.lit(v) for v in gt]).cast("array<double>"))
        s = one.collect()[0]
        out = multimodal.crop_images(
            geo, [107.5, 468.3, 119.1, 487.9], mode="geo").collect()[0]
        # gdal: xoff=floor(3.751)=3, yoff=floor(6.051)=6,
        #       xsize=int(5.8+.5)=6, ysize=int(9.8+.5)=10
        arr = pixfmt.decode(
            s["fmt"], bytes(s["bytes"]), s["w"], s["h"])
        exp = arr[:, 6:16, 3:9]
        assert (out["w"], out["h"]) == (6, 10)
        got = pixfmt.decode(
            out["fmt"], bytes(out["bytes"]), out["w"], out["h"])
        assert np.array_equal(got, exp)
        assert list(out["transform"]) == [106.0, 2.0, 0.0, 488.0, 0.0, -2.0]

    def test_crop_mode_validation(self, spark):
        from solaris_spark.sources import synth
        images = synth.images_table(spark, 1, include_fixture=False)
        for bad in (True, False, "geodesic", 2):
            with pytest.raises(ValueError):
                multimodal.crop_images(images, [0, 1, 1, 0], mode=bad)

    def test_unknown_codec_raises(self):
        # png and baseline jpeg are native capabilities (functions/png.py,
        # functions/jpeg.py): truncated bytes are a data error, not a
        # missing codec; webp/tga stay gated
        with pytest.raises(ValueError):
            pixfmt.decode("png", b"\x89PNG", 4, 4)
        with pytest.raises(ValueError):
            pixfmt.decode("jpeg", b"\xff\xd8\xff", 4, 4)
        with pytest.raises(NotImplementedError):
            pixfmt.decode("webp", b"RIFF", 4, 4)
        with pytest.raises(NotImplementedError):
            pixfmt.decode("tga", b"", 4, 4)
        # outside input is validated: malformed raw fmt, a blob of the
        # wrong length, a PNG/JPEG whose size is not the row's (w, h)
        from solaris_spark.functions.jpeg import encode_jpeg
        from solaris_spark.functions.png import encode_png
        px = np.zeros((3, 4, 5), dtype=np.uint8)
        for fmt, buf, want in [
                ("raw-x7-c0", b"", r"raw-x7-c0.*4x4"),
                ("raw-u12-c1", bytes(32), r"raw-u12-c1.*4x4"),
                ("raw-u16-c1", bytes(31), r"raw-u16-c1 4x4.*31.*32"),
                ("png", encode_png(px), r"png.*5x4.*4x4"),
                ("jpeg", encode_jpeg(px), r"jpeg.*5x4.*4x4")]:
            with pytest.raises(ValueError, match=want):
                pixfmt.decode(fmt, buf, 4, 4)

    def test_frame_sampling(self, spark):
        buf = bytes(range(256)) * (4 * 4 * 20 // 256 + 1)
        vids = spark.createDataFrame(
            [("v", bytearray(buf[:4 * 4 * 20]), 4, 4, 20)],
            "video_id string, bytes binary, w int, h int, n_frames int")
        frames = multimodal.sample_frames(vids, sample_every=7).collect()
        assert [f["frame_idx"] for f in frames] == [0, 7, 14]

    def test_audio_features(self, spark):
        sig = (np.sin(np.linspace(0, 40 * np.pi, 8000)) * 20000).astype("<i2")
        clips = spark.createDataFrame(
            [("c", bytearray(sig.tobytes()), 8000)],
            "clip_id string, bytes binary, sample_rate int")
        out = multimodal.audio_features(clips).collect()[0]
        assert out["duration_sec"] == pytest.approx(1.0)
        # 40 half-periods → 39 interior sign changes (endpoints exactly 0)
        assert out["zero_crossings"] == 39


class TestWinnowing:
    def test_shared_passage_guarantee(self, spark):
        """Winnowing guarantee (forward-window variant): any shared
        substring of length >= k + 2*window - 2 yields a shared
        fingerprint — two docs sharing a long passage pair up; unrelated
        docs don't."""
        passage = "the quick brown fox jumps over the lazy dog tonight"
        d = spark.createDataFrame(
            [(1, "intro words " + passage + " tail one"),
             (2, "other start " + passage + " different end"),
             (3, "completely unrelated content with nothing in common xyz")],
            "doc_id long, text string")
        pairs = {(r["da"], r["db"]): r["shared_fps"] for r in
                 text.winnow_near_dup_pairs(d, k=5, window=4).collect()}
        assert (1, 2) in pairs and pairs[(1, 2)] >= 2
        assert not any(3 in p for p in pairs)

    def test_fingerprints_subset_of_gram_hashes(self, spark):
        d = spark.createDataFrame([(1, "abcdefghijklmnop")],
                                  "doc_id long, text string")
        fps = text.winnow_fingerprints(d, k=5, window=4).collect()
        assert 1 <= len(fps) <= 12  # never more than the gram count


class TestCleanText:
    def test_urls_emails_whitespace(self, spark):
        d = spark.createDataFrame(
            [(1, "see https://a.io/x and www.b.com now"),
             (2, "mail me at a.b+c@ex-ample.org   please  "),
             (3, "plain    text")],
            "doc_id long, text string")
        out = {r["doc_id"]: r for r in text.clean_text(d).collect()}
        assert out[1]["n_urls"] == 2 and "http" not in out[1]["clean_text"]
        assert out[1]["clean_text"] == "see and now"
        assert out[2]["n_emails"] == 1 and "@" not in out[2]["clean_text"]
        assert out[3]["clean_text"] == "plain text"
        assert out[3]["chars_removed"] == 3


class TestDedupClusters:
    def test_transitive_closure(self, spark):
        """A~B and B~C (no A~C pair) must cluster {A,B,C} together."""
        from solaris_spark.operators import dedup
        docs = spark.createDataFrame(
            [(1, "x"), (2, "x"), (3, "x"), (4, "y"), (5, "z")],
            "doc_id long, text string")
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3)], "da long, db long")
        got = {r["doc_id"]: r["cluster_id"]
               for r in dedup.dedup_clusters(docs, pairs).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5}

    def test_random_pairs_unionfind_parity(self, spark):
        """200 docs, 150 random similarity pairs (dups + self-pairs mixed
        in) — cluster partition must equal a union-find oracle and every
        doc must appear exactly once."""
        import random

        from solaris_spark.operators import dedup

        rng = random.Random(13)
        n = 200
        pair_rows = [(rng.randrange(n), rng.randrange(n)) for _ in range(150)]
        pair_rows += pair_rows[:30]          # duplicate pairs
        docs = spark.createDataFrame(
            [(i, f"doc {i}") for i in range(n)], "doc_id long, text string")
        pairs = spark.createDataFrame(pair_rows, "da long, db long")

        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pair_rows:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {v: find(v) for v in range(n)}

        got = {r["doc_id"]: r["cluster_id"]
               for r in dedup.dedup_clusters(docs, pairs).collect()}
        assert got == want
