"""Unit tests for the operator library: dedup, similarity, text,
multimodal, sitemap, lint, exports, incremental reads."""

import pytest
from pyspark.sql import functions as F

TD = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{TD}/documents.parquet").persist()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{TD}/embeddings.parquet").persist()


class TestDedup:
    def test_exact_dups_on_planted(self, spark):
        from librecrawl_spark.operators.dedup import exact_dups

        df = spark.createDataFrame(
            [(1, "hello  world"), (2, "Hello World"), (3, "other text")],
            "doc_id long, text string",
        )
        out = exact_dups(df).collect()
        assert len(out) == 1 and out[0]["n_docs"] == 2 and out[0]["keeper"] == 1

    def test_minhash_lsh_finds_near_dups(self, spark):
        from librecrawl_spark.operators.dedup import minhash_lsh_candidates

        base = "the quick brown fox jumps over the lazy dog again and again " * 5
        df = spark.createDataFrame(
            [(1, base), (2, base + " extra tail tokens"), (3, "completely different words here")],
            "doc_id long, text string",
        )
        pairs = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_candidates(df).collect()}
        assert (1, 2) in pairs
        assert (1, 3) not in pairs and (2, 3) not in pairs

    def test_connected_components_planted(self, spark):
        from librecrawl_spark.operators.dedup import dup_clusters

        # triangle {1,2,3}, pair {10,11}, a 20-node path (exercises the
        # pointer-jumping rounds), and singletons 50/51
        path = [(100 + i, 101 + i) for i in range(19)]
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (10, 11)] + path,
            "doc_a long, doc_b long",
        )
        docs = spark.createDataFrame(
            [(i,) for i in (1, 2, 3, 10, 11, 50, 51)]
            + [(100 + i,) for i in range(20)],
            "doc_id long",
        )
        got = {r["doc_id"]: (r["cluster"], r["is_keeper"])
               for r in dup_clusters(docs, pairs).collect()}
        assert got[1] == (1, True) and got[2] == (1, False) and got[3] == (1, False)
        assert got[10] == (10, True) and got[11] == (10, False)
        assert got[50] == (50, True) and got[51] == (51, True)
        for i in range(20):
            assert got[100 + i] == (100, i == 0)

    def test_dup_clusters_from_simhash_pairs(self, spark):
        from librecrawl_spark.operators.dedup import (
            dup_clusters, simhash_dup_groups)

        base = "alpha beta gamma delta epsilon zeta eta theta " * 8
        df = spark.createDataFrame(
            [(1, base), (2, base + " tail"), (3, base + " tail two"),
             (9, "entirely unrelated words in this document body here")],
            "doc_id long, text string",
        )
        pairs = simhash_dup_groups(df, max_hamming=6)
        out = {r["doc_id"]: r["cluster"]
               for r in dup_clusters(df.select("doc_id"), pairs).collect()}
        assert out[1] == out[2] == out[3] == 1
        assert out[9] == 9

    def test_jaccard_threshold_monotone(self, docs):
        from librecrawl_spark.operators.dedup import ngram_jaccard_pairs

        lo = ngram_jaccard_pairs(docs, threshold=0.3).count()
        hi = ngram_jaccard_pairs(docs, threshold=0.6).count()
        assert hi <= lo

    def test_jaccard_hot_shingle_cap(self, spark):
        """A shingle shared by every doc must not create the n^2 join:
        with max_df below the corpus size the boilerplate-only pairs
        disappear, while genuinely-similar pairs (sharing cold shingles)
        keep their EXACT jaccard."""
        from librecrawl_spark.operators.dedup import ngram_jaccard_pairs

        boiler = "all rights reserved copyright notice "
        rows = [(i, boiler + f"unique words number {i} here padding tokens") for i in range(20)]
        # docs 100/101 share cold content beyond the boilerplate
        sim = boiler + "identical middle section of real content words"
        rows += [(100, sim + " tail a"), (101, sim + " tail b")]
        df = spark.createDataFrame(rows, "doc_id long, text string")

        capped = ngram_jaccard_pairs(df, threshold=0.2, max_df=10)
        got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in capped.collect()}
        assert (100, 101) in got
        # no boilerplate-only pair survives (their only shared shingles are hot)
        assert all(p == (100, 101) for p in got)

        # the surviving pair's jaccard is EXACT (equals the uncapped value)
        uncapped = ngram_jaccard_pairs(df, threshold=0.2, max_df=10**9)
        full = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in uncapped.collect()}
        assert got[(100, 101)] == full[(100, 101)]

    def test_simhash_hamming_banding(self, spark):
        """simhash_dup_groups finds near-identical docs (small Hamming
        distance) without an all-pairs scan and never pairs unrelated
        docs."""
        from librecrawl_spark.operators.dedup import simhash_dup_groups

        base = "the quick brown fox jumps over the lazy dog " * 8
        df = spark.createDataFrame(
            [(1, base), (2, base + " extra"), (3, "entirely different vocabulary here " * 8)],
            "doc_id long, text string",
        )
        pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in
                 simhash_dup_groups(df, max_hamming=3).collect()}
        assert (1, 2) in pairs and pairs[(1, 2)] <= 3
        assert (1, 3) not in pairs and (2, 3) not in pairs

    def test_simhash_identical_docs_same_hash(self, spark):
        from librecrawl_spark.operators.dedup import simhash

        df = spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "zz yy xx")],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r for r in simhash(df).collect()}
        assert rows[1]["simhash"] == rows[2]["simhash"]
        assert len(rows[1]["simhash"]) == 16  # 64-bit sketch as hex
        for g in range(4):
            assert 0 <= rows[1][f"band{g}"] < (1 << 16)
        assert rows[1]["simhash"] != rows[3]["simhash"]

    def test_dup_chunk_stats_planted(self, spark):
        from librecrawl_spark.operators.dedup import (
            dup_chunk_filter, dup_chunk_stats)

        boiler = "all rights reserved contact us for more info"  # 8 tokens
        d = spark.createDataFrame(
            [
                # 2 chunks: unique 8 tokens + the shared boilerplate
                (1, "aa bb cc dd ee ff gg hh " + boiler),
                # 1 chunk: the boilerplate alone (trailing token dropped)
                (2, boiler + " tail"),
                # internal duplication only: same 8-token chunk twice
                (3, "p q r s t u v w p q r s t u v w"),
                # shorter than k -> zero chunks
                (4, "too short"),
                (5, "ii jj kk ll mm nn oo pp qq rr ss tt uu vv ww xx"),
            ],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r for r in dup_chunk_stats(d, k=8).collect()}
        assert (got[1]["n_chunks"], got[1]["n_dup_chunks"]) == (2, 1)
        assert got[1]["dup_chunk_frac"] == 0.5
        assert (got[2]["n_chunks"], got[2]["n_dup_chunks"]) == (1, 1)
        assert got[3]["n_dup_chunks"] == 2  # twice-in-one-doc counts
        assert (got[4]["n_chunks"], got[4]["dup_chunk_frac"]) == (0, 0.0)
        assert got[5]["n_dup_chunks"] == 0
        keep = {r["doc_id"]: r["keep"]
                for r in dup_chunk_filter(d, k=8).collect()}
        assert keep == {1: True, 2: False, 3: False, 4: True, 5: True}

    def test_dup_chunk_matches_python_transcription(self, docs):
        import re
        from collections import Counter

        from librecrawl_spark.operators.dedup import dup_chunk_stats

        k = 8
        rows = docs.select("doc_id", "text").collect()
        chunks = {}
        for r in rows:
            t = re.findall(r"[0-9A-Za-z_]+", (r["text"] or "").lower())
            chunks[r["doc_id"]] = [
                " ".join(t[i * k:(i + 1) * k]) for i in range(len(t) // k)]
        tot = Counter(c for cs in chunks.values() for c in cs)
        got = {r["doc_id"]: r for r in dup_chunk_stats(docs, k=k).collect()}
        assert set(got) == set(chunks)
        for did, cs in chunks.items():
            nd = sum(1 for c in cs if tot[c] > 1)
            g = got[did]
            assert (g["n_chunks"], g["n_dup_chunks"]) == (len(cs), nd)
            assert g["dup_chunk_frac"] == (
                round(nd / len(cs), 6) if cs else 0.0)


class TestSimilarity:
    def test_self_is_top1(self, emb):
        from librecrawl_spark.operators.similarity import cosine_topk

        q = [float(x) for x in emb.filter("vec_id = 7").collect()[0]["embedding"]]
        top = cosine_topk(emb, q, k=3).collect()
        assert top[0]["vec_id"] == 7
        assert abs(top[0]["cos_sim"] - 1.0) < 1e-6
        sims = [r["cos_sim"] for r in top]
        assert sims == sorted(sims, reverse=True)

    def test_lsh_topk_subset_of_brute(self, emb):
        from librecrawl_spark.operators.similarity import cosine_topk, lsh_bucket_topk

        q = [float(x) for x in emb.filter("vec_id = 3").collect()[0]["embedding"]]
        ann = lsh_bucket_topk(emb, q, k=5)
        rows = ann.collect()
        assert rows and rows[0]["vec_id"] == 3  # query's own bucket contains itself

    def test_ivf_topk_matches_numpy_replay(self, emb):
        """ivf_topk == a literal numpy replay of the IVF recipe: 16
        lowest-id centroids, round-6 argmax-cosine assignment (ties ->
        lowest cid), 4 probed lists, exact re-rank inside them."""
        import numpy as np
        from pyspark.sql import functions as F

        from librecrawl_spark.operators.similarity import ivf_topk

        rows = sorted(emb.collect(), key=lambda r: r["vec_id"])
        ids = np.array([r["vec_id"] for r in rows])
        M = np.array([[float(x) for x in r["embedding"]] for r in rows])
        M = M / np.linalg.norm(M, axis=1, keepdims=True)
        cent = M[:16]
        asg_cos = np.round(M @ cent.T, 6)
        # argmax with lowest-cid tie-break: argmax takes the first max
        asg = asg_cos.argmax(axis=1)
        q = M[ids == 0][0]
        probe = {i for _, i in sorted(
            (-np.round(cent[i] @ q, 6), i) for i in range(len(cent)))[:4]}
        cand = [i for i in range(len(ids)) if asg[i] in probe]
        scored = sorted(((-np.round(M[i] @ q, 6), ids[i]) for i in cand))[:10]
        expect = [(int(v), float(-s)) for s, v in scored]

        qdf = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
        got = [(r["vec_id"], r["cos_sim"])
               for r in ivf_topk(emb, qdf, k=10, n_centroids=16, n_probe=4).collect()]
        assert [v for v, _ in got] == [v for v, _ in expect]
        for (_, a), (_, b) in zip(got, expect):
            assert abs(a - b) < 2e-6

    def test_ivf_probe_all_recovers_brute_force(self, emb):
        """With n_probe == n_centroids, IVF scans every list — the
        result must equal the exact brute-force top-k."""
        from pyspark.sql import functions as F

        from librecrawl_spark.operators.similarity import cosine_topk, ivf_topk

        q = [float(x) for x in emb.filter("vec_id = 0").collect()[0]["embedding"]]
        brute = [r["vec_id"] for r in cosine_topk(emb, q, k=8).collect()]
        qdf = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
        full = [r["vec_id"] for r in
                ivf_topk(emb, qdf, k=8, n_centroids=8, n_probe=8).collect()]
        assert full == brute

    def test_near_dups_symmetric_ids(self, emb):
        from librecrawl_spark.operators.similarity import embedding_near_dups

        out = embedding_near_dups(emb, dim=64, threshold=0.8).collect()
        for r in out:
            assert r["id_a"] < r["id_b"]
            assert r["cos_sim"] >= 0.8


class TestText:
    def test_langid_majority_en(self, docs):
        from librecrawl_spark.operators.text import language_id

        out = language_id(docs)
        en = out.filter("pred_lang = 'en'").count()
        assert en > docs.count() * 0.5

    def test_token_count_positive(self, docs):
        from librecrawl_spark.operators.text import token_count

        out = token_count(docs)
        assert out.filter("n_words <= 0").count() == 0

    def test_repetition_metrics_planted(self, spark):
        from librecrawl_spark.operators.text import (
            repetition_filter, repetition_metrics)

        d = spark.createDataFrame(
            [
                # 4 lines, "same line" twice -> dup_line_frac 0.25;
                # line chars: 9+9+9+9=36, dup chars 9 -> 0.25
                (1, "same line\nother one\nsame line\nlast line"),
                # all-distinct lines and words, long enough that one
                # 2-gram stays under the 20% char-coverage gate
                (2, "one two three four\nfive six seven eight\n"
                    "nine ten eleven twelve"),
                # "very good" 2-gram 3x out of grams; words 6 tokens
                (3, "very good very good very good"),
                (4, ""),
            ],
            "doc_id long, text string",
        )
        m = {r["doc_id"]: r for r in repetition_metrics(d).collect()}
        assert m[1]["dup_line_frac"] == 0.25
        assert m[1]["dup_line_char_frac"] == 0.25
        assert m[2]["dup_line_frac"] == 0.0
        assert m[2]["word_rep_ratio"] == 0.0
        # doc 3: tokens [very good]*3; grams sorted: good very x2,
        # very good x3 -> top = "very good" count 3, covered 3*8=24 of
        # 24 token chars
        assert m[3]["top_2gram"] == "very good"
        assert m[3]["top_2gram_count"] == 3
        assert m[3]["top_2gram_char_frac"] == 1.0
        assert m[3]["word_rep_ratio"] == round(1 - 2 / 6, 6)
        assert m[4]["n_lines"] == 0 and m[4]["top_2gram_char_frac"] == 0.0
        f = {r["doc_id"]: r["keep"] for r in repetition_filter(d).collect()}
        assert f[2] is True and f[3] is False

    def test_scrub_pii_planted(self, spark):
        from librecrawl_spark.operators.text import scrub_pii

        d = spark.createDataFrame(
            [
                (1, "mail me at jane.doe+x@sub.example.co or call +44 020-7946"),
                (2, "server at 192.168.0.1 and 10.0.0.255 up"),
                (3, "clean text with no identifiers at all"),
                (4, "double a@b.io b@c.io"),
            ],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r for r in scrub_pii(d).collect()}
        assert (got[1]["n_email"], got[1]["n_phone"], got[1]["n_ipv4"]) == (1, 1, 0)
        assert got[1]["redacted_text"] == "mail me at <EMAIL> or call <PHONE>"
        assert got[2]["n_ipv4"] == 2 and got[2]["has_pii"]
        assert got[2]["redacted_text"] == "server at <IPV4> and <IPV4> up"
        assert not got[3]["has_pii"] and got[3]["redacted_text"] == \
            "clean text with no identifiers at all"
        assert got[4]["n_email"] == 2
        assert got[4]["redacted_text"] == "double <EMAIL> <EMAIL>"

    def test_repetition_matches_python_transcription(self, docs):
        import re
        from collections import Counter

        from librecrawl_spark.operators.text import repetition_metrics

        rows = docs.select("doc_id", "text").collect()
        got = {r["doc_id"]: r for r in repetition_metrics(docs).collect()}
        for r in rows:
            t = re.findall(r"[0-9A-Za-z_]+", (r["text"] or "").lower())
            grams = [f"{a} {b}" for a, b in zip(t, t[1:])]
            g = got[r["doc_id"]]
            assert g["word_rep_ratio"] == (
                round(1 - len(set(t)) / len(t), 6) if t else 0.0)
            if grams:
                c = Counter(grams)
                # tie-break: smallest gram among max counts
                mx = max(c.values())
                bg = min(k for k, v in c.items() if v == mx)
                assert g["top_2gram"] == bg and g["top_2gram_count"] == mx
                tok_chars = sum(len(x) for x in t)
                assert g["top_2gram_char_frac"] == round(
                    mx * (len(bg) - 1) / tok_chars, 6)


class TestMultimodal:
    def test_image_features_deterministic(self, spark):
        from librecrawl_spark.operators.multimodal import image_features, synthetic_media

        m = synthetic_media(spark, 12)
        a = sorted((r["media_id"], r["phash"]) for r in image_features(m).collect())
        b = sorted((r["media_id"], r["phash"]) for r in image_features(m).collect())
        assert a == b and len(a) == 8  # 2/3 of 12 are images

    def test_real_decode_raises(self, spark):
        from librecrawl_spark.operators.multimodal import image_features, synthetic_media

        m = synthetic_media(spark, 3)
        with pytest.raises(Exception):
            image_features(m, fake=False).collect()

    def test_header_parse_pure(self):
        from librecrawl_spark.operators.multimodal import (
            make_test_jpeg_header, make_test_png, parse_image_header)

        assert parse_image_header(make_test_png(7, 11)) == ("image/png", 7, 11)
        assert parse_image_header(make_test_jpeg_header(640, 480)) == ("image/jpeg", 640, 480)
        gif = b"GIF89a" + (13).to_bytes(2, "little") + (9).to_bytes(2, "little") + b"\x00" * 4
        assert parse_image_header(gif) == ("image/gif", 13, 9)
        assert parse_image_header(b"not an image") is None
        assert parse_image_header(b"") is None

    def test_webp_header_parse_pure(self):
        from librecrawl_spark.operators.multimodal import (
            make_test_webp_vp8l, parse_image_header)

        assert parse_image_header(make_test_webp_vp8l(320, 200)) == ("image/webp", 320, 200)
        assert parse_image_header(make_test_webp_vp8l(1, 1)) == ("image/webp", 1, 1)
        assert parse_image_header(make_test_webp_vp8l(16383, 16383)) \
            == ("image/webp", 16383, 16383)
        # VP8X extended header: 24-bit LE canvas dims minus one
        vp8x = (b"RIFF" + (22).to_bytes(4, "little") + b"WEBP"
                + b"VP8X" + (10).to_bytes(4, "little")
                + b"\x00" * 4 + (639).to_bytes(3, "little") + (479).to_bytes(3, "little"))
        assert parse_image_header(vp8x) == ("image/webp", 640, 480)
        # RIFF but not WEBP falls through
        assert parse_image_header(b"RIFF\x00\x00\x00\x00WAVEfmt " + b"\x00" * 20) is None

    def test_image_features_real_dimensions(self, spark):
        """Real container bytes in the fixture -> real width/height from
        the header parser (not the fake decoder's hash dims)."""
        from librecrawl_spark.operators.multimodal import image_features, synthetic_media

        m = synthetic_media(spark, 12)
        meta = {r["media_id"]: (r["meta"]["width"], r["meta"]["height"])
                for r in m.filter("kind = 'image'").collect()}
        out = {r["media_id"]: (r["width"], r["height"])
               for r in image_features(m).collect()}
        assert out == meta


    def test_png_pixel_decode_all_filters_roundtrip(self):
        """decode_png is a REAL decoder: every PNG filter type
        (None/Sub/Up/Average/Paeth) round-trips a random RGB image to
        the exact Rec.601 luma grid."""
        import random
        import struct
        import zlib

        from librecrawl_spark.operators.multimodal import decode_png

        def enc(pixel_rows, filt, ctype=2):
            nch = {0: 1, 2: 3, 6: 4}[ctype]
            w, h = len(pixel_rows[0]), len(pixel_rows)

            def chunk(typ, data):
                return (struct.pack(">I", len(data)) + typ + data
                        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))

            raw, prev = b"", bytes(w * nch)
            for row in pixel_rows:
                line = bytes(v for px in row for v in px)
                out = bytearray(line)
                if filt == 1:
                    for i in range(len(line) - 1, nch - 1, -1):
                        out[i] = (line[i] - line[i - nch]) & 0xFF
                elif filt == 2:
                    for i in range(len(line)):
                        out[i] = (line[i] - prev[i]) & 0xFF
                elif filt == 3:
                    for i in range(len(line)):
                        a = line[i - nch] if i >= nch else 0
                        out[i] = (line[i] - ((a + prev[i]) >> 1)) & 0xFF
                elif filt == 4:
                    for i in range(len(line)):
                        a = line[i - nch] if i >= nch else 0
                        b, c = prev[i], (prev[i - nch] if i >= nch else 0)
                        p = a + b - c
                        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                        pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                        out[i] = (line[i] - pr) & 0xFF
                raw += bytes([filt]) + bytes(out)
                prev = line
            ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
            return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                    + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))

        random.seed(5)
        px = [[(random.randrange(256), random.randrange(256), random.randrange(256))
               for _ in range(13)] for _ in range(9)]
        want = [[round(0.299 * r + 0.587 * g + 0.114 * b) for (r, g, b) in row]
                for row in px]
        for filt in range(5):
            assert decode_png(enc(px, filt)) == want, filt
        # RGBA: alpha ignored
        pxa = [[(r, g, b, 17) for (r, g, b) in row] for row in px]
        assert decode_png(enc(pxa, 4, ctype=6)) == want
        # grayscale
        gray = [[(v,) for v in row] for row in want]
        assert decode_png(enc(gray, 2, ctype=0)) == want
        # not-a-png / truncated -> None, never raises
        assert decode_png(b"\xff\xd8jpeg") is None
        assert decode_png(enc(px, 0)[:40]) is None

    def test_png_real_features_analytic_oracles(self):
        """dHash + mean_luma on analytically-known images: a strictly
        left-to-right-brightening gradient hashes to ALL-ONES (every
        adjacent grid pair increases), a top-to-bottom gradient to
        ALL-ZEROS (no horizontal change), both with mean_luma exactly
        0.5; a solid-color PNG hashes to all-zeros with the Rec.601
        luma of its color."""
        import struct
        import zlib

        from librecrawl_spark.operators.multimodal import (
            make_test_png, real_image_features)

        def enc_rgb(pixel_rows):
            w, h = len(pixel_rows[0]), len(pixel_rows)

            def chunk(typ, data):
                return (struct.pack(">I", len(data)) + typ + data
                        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))

            raw = b"".join(bytes([0]) + bytes(v for px in row for v in px)
                           for row in pixel_rows)
            ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
            return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                    + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))

        grad_h = [[((x * 255) // 15,) * 3 for x in range(16)] for _ in range(16)]
        grad_v = [[((y * 255) // 15,) * 3 for _ in range(16)] for y in range(16)]
        fh = real_image_features(enc_rgb(grad_h))
        fv = real_image_features(enc_rgb(grad_v))
        assert fh["phash"] == "f" * 16 and fh["mean_luma"] == 0.5
        assert fv["phash"] == "0" * 16 and fv["mean_luma"] == 0.5

        f = real_image_features(make_test_png(20, 10, rgb=(200, 30, 30)))
        luma = round(0.299 * 200 + 0.587 * 30 + 0.114 * 30)
        assert f == {"width": 20, "height": 10, "phash": "0" * 16,
                     "mean_luma": round(luma / 255.0, 6)}

    def test_image_features_real_for_png_fake_for_jpeg(self, spark):
        """The mapInPandas pipeline serves REAL pixel features for PNG
        payloads (the fixture's solid-red PNGs -> Rec.601 luma, zero
        dHash) and the deterministic fake for codec-needing formats."""
        from librecrawl_spark.operators.multimodal import (
            image_features, synthetic_media)

        m = synthetic_media(spark, 12)
        mimes = {r["media_id"]: r["meta"]["mime"]
                 for r in m.filter("kind = 'image'").collect()}
        luma = round(round(0.299 * 200 + 0.587 * 30 + 0.114 * 30) / 255.0, 6)
        for r in image_features(m).collect():
            if mimes[r["media_id"]] == "image/png":
                assert r["phash"] == "0" * 16 and r["mean_luma"] == luma
            else:
                assert len(r["phash"]) == 16  # fake path, deterministic

    def test_audio_header_parse_pure(self):
        from librecrawl_spark.operators.multimodal import (
            make_test_wav, parse_audio_header)

        assert parse_audio_header(make_test_wav(8000, 1, 800)) == ("audio/wav", 8000, 1, 100)
        assert parse_audio_header(make_test_wav(44100, 2, 4410)) == ("audio/wav", 44100, 2, 100)
        # FLAC STREAMINFO: sr(20) ch(3) bps(5) total(36) packed big-endian
        packed = (22050 << 44) | ((2 - 1) << 41) | ((16 - 1) << 36) | 22050
        streaminfo = b"\x00" * 10 + packed.to_bytes(8, "big") + b"\x00" * 16
        flac = b"fLaC" + b"\x80" + (34).to_bytes(3, "big") + streaminfo
        assert parse_audio_header(flac) == ("audio/flac", 22050, 2, 1000)
        assert parse_audio_header(b"RIFFxxxxJUNK") is None

    def test_mp3_header_parse_pure(self):
        from librecrawl_spark.operators.multimodal import (
            make_test_mp3, parse_audio_header)

        # bare CBR stream: 10 frames of 417 bytes at 128kbps/44.1k mono
        assert parse_audio_header(make_test_mp3(44100, 128, 1, 10)) \
            == ("audio/mpeg", 44100, 1, 260)
        # ID3v2 tag skipped via syncsafe size; stereo; 64kbps/32k
        assert parse_audio_header(make_test_mp3(32000, 64, 2, 25,
                                                id3=b"TALB test album")) \
            == ("audio/mpeg", 32000, 2, 900)
        # ID3 tag with no valid frame after it
        assert parse_audio_header(b"ID3\x04\x00\x00\x00\x00\x00\x01X") is None
        # free-format bitrate index and reserved sample-rate index rejected
        assert parse_audio_header(bytes([0xFF, 0xFA, 0x0C, 0xC0])) is None
        assert parse_audio_header(b"") is None

    def test_audio_features_real_rates(self, spark):
        from librecrawl_spark.operators.multimodal import (
            audio_features, synthetic_audio)

        m = synthetic_audio(spark, 9)
        out = {r["media_id"]: (r["mime"], r["sample_rate"], r["channels"], r["duration_ms"])
               for r in audio_features(m).collect()}
        want = {f"a{i}": ("audio/wav", (8000, 16000, 44100)[i % 3], 1 + i % 2,
                          int(((8000, 16000, 44100)[i % 3] // 10 + i) * 1000
                              / (8000, 16000, 44100)[i % 3]))
                for i in range(9)}
        assert out == want

    def test_gif_lzw_roundtrip_pure(self):
        """_gif_lzw_encode/_gif_lzw_decode are REAL appendix-F LZW:
        deterministic fuzz roundtrip across palette sizes, including
        streams long enough to grow the code width and overflow the
        4096-entry dict (clear-code reset path)."""
        import random

        from librecrawl_spark.operators.multimodal import (
            _gif_lzw_decode, _gif_lzw_encode)

        rnd = random.Random(7)
        for ncolors in (2, 4, 16, 256):
            mcs = max(2, (ncolors - 1).bit_length())
            for n in (1, 17, 4095, 20000):
                idx = [rnd.randrange(ncolors) for _ in range(n)]
                assert _gif_lzw_decode(
                    _gif_lzw_encode(idx, mcs), mcs, n) == idx, (ncolors, n)
        assert _gif_lzw_decode(b"\xff\xff\xff", 2, 10) is None  # corrupt

    def test_gif_pixel_decode_real(self):
        """decode_gif resolves palette pixels through real LZW: a
        checkerboard roundtrips exactly, interlaced storage order is
        restored, a local color table overrides the global one, and a
        solid color yields its Rec.601 luma with an all-zero dHash."""
        from librecrawl_spark.operators.multimodal import (
            decode_gif, make_test_gif, parse_image_header,
            real_image_features)

        pal = [(0, 0, 0), (255, 255, 255)]
        logical = [[(x + y) % 2 for x in range(8)] for y in range(6)]
        g = make_test_gif(8, 6, pal, [v for r in logical for v in r])
        assert parse_image_header(g) == ("image/gif", 8, 6)
        assert decode_gif(g) == [[255 * v for v in r] for r in logical]
        # interlaced: store rows in pass order (h=6 -> 0 | 4 | 2 | 1,3,5)
        storage = [logical[i] for i in (0, 4, 2, 1, 3, 5)]
        gi = make_test_gif(8, 6, pal, [v for r in storage for v in r],
                           interlace=True)
        assert decode_gif(gi) == [[255 * v for v in r] for r in logical]
        f = real_image_features(g)
        assert (f["width"], f["height"], f["mean_luma"]) == (8, 6, 0.5)
        solid = make_test_gif(5, 4, [(10, 200, 30)], [0] * 20)
        fs = real_image_features(solid)
        luma = round(0.299 * 10 + 0.587 * 200 + 0.114 * 30)
        assert fs["phash"] == "0" * 16
        assert fs["mean_luma"] == round(luma / 255.0, 6)
        assert decode_gif(b"GIF89a" + b"\x00" * 4) is None
        assert decode_gif(b"\x89PNG\r\n\x1a\n") is None

    def test_image_features_real_for_gif(self, spark):
        """The mapInPandas pipeline serves REAL pixel features for GIF
        payloads too (decode_gif), not the content-hash fake."""
        from librecrawl_spark.operators.multimodal import (
            MEDIA_SCHEMA, image_features, make_test_gif)

        g = make_test_gif(5, 4, [(10, 200, 30)], [0] * 20)
        m = spark.createDataFrame(
            [("g0", "image", bytearray(g), ("image/gif", 5, 4, 0))],
            schema=MEDIA_SCHEMA)
        [r] = image_features(m).collect()
        luma = round(0.299 * 10 + 0.587 * 200 + 0.114 * 30)
        assert (r["width"], r["height"]) == (5, 4)
        assert r["phash"] == "0" * 16
        assert r["mean_luma"] == round(luma / 255.0, 6)

    def test_wav_pcm_decode_pure(self):
        """decode_wav_pcm is a REAL sample decoder — WAV is raw PCM
        behind struct reads. 16-bit roundtrip, 8-bit unsigned bias,
        stereo interleave, and compressed-format rejection."""
        from librecrawl_spark.operators.multimodal import (
            decode_wav_pcm, make_test_wav)
        import struct as st

        rate, ch, s = decode_wav_pcm(
            make_test_wav(8000, 1, samples=[0, 16384, -16384, -32768]))
        assert (rate, ch) == (8000, 1)
        assert s == [0.0, 0.5, -0.5, -1.0]
        # stereo: each frame value repeated per channel, interleaved
        _, ch2, s2 = decode_wav_pcm(
            make_test_wav(44100, 2, samples=[100, -100]))
        assert ch2 == 2 and s2 == [100 / 32768.0] * 2 + [-100 / 32768.0] * 2
        # 8-bit PCM is unsigned with a 128 bias
        fmt = st.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
        body = (b"WAVE" + b"fmt " + st.pack("<I", len(fmt)) + fmt
                + b"data" + st.pack("<I", 3) + bytes([128, 255, 0]))
        pad = b"\x00"  # odd-size data chunk is word-aligned
        wav8 = b"RIFF" + st.pack("<I", len(body) + 1) + body + pad
        assert decode_wav_pcm(wav8) == (8000, 1, [0.0, 127 / 128.0, -1.0])
        # non-PCM format tag (2 = ADPCM) is honestly not covered
        fmt_adpcm = st.pack("<HHIIHH", 2, 1, 8000, 4000, 1, 4)
        body = (b"WAVE" + b"fmt " + st.pack("<I", len(fmt_adpcm)) + fmt_adpcm
                + b"data" + st.pack("<I", 4) + b"\x00" * 4)
        assert decode_wav_pcm(b"RIFF" + st.pack("<I", len(body)) + body) is None
        assert decode_wav_pcm(b"fLaC" + b"\x00" * 40) is None

    def test_real_audio_features_analytic(self):
        """Signal features from known waveforms: a full-scale square
        wave's RMS == peak == 32767/32768 with a crossing every period
        boundary; silence is all zeros; a half-scale constant has RMS =
        peak = 0.5 and no crossings."""
        from librecrawl_spark.operators.multimodal import (
            make_test_wav, real_audio_features)

        sq = [32767, 32767, -32767, -32767] * 25
        f = real_audio_features(make_test_wav(8000, 1, samples=sq))
        assert f["loudness"] == f["peak"] == round(32767 / 32768, 6)
        # 50 sign flips over 99 gaps
        assert f["zcr"] == round(49 / 99, 6)
        f0 = real_audio_features(make_test_wav(8000, 2, samples=[0] * 64))
        assert f0 == {"loudness": 0.0, "peak": 0.0, "zcr": 0.0}
        fh = real_audio_features(make_test_wav(8000, 1, samples=[16384] * 10))
        assert fh == {"loudness": 0.5, "peak": 0.5, "zcr": 0.0}
        assert real_audio_features(b"\xff\xd8not audio") is None

    def test_audio_features_real_for_wav(self, spark):
        """The mapInPandas pipeline serves REAL signal features for WAV
        payloads: the fixture's sawtooth RMS/peak/zcr computed
        independently here must match the pipeline's output."""
        import math

        from librecrawl_spark.operators.multimodal import (
            audio_features, synthetic_audio)

        m = synthetic_audio(spark, 4)
        out = {r["media_id"]: (r["loudness"], r["peak"], r["zcr"])
               for r in audio_features(m).collect()}
        for i in range(4):
            rate = (8000, 16000, 44100)[i % 3]
            vals = [((j * 257) % 32768 - 16384) / 32768.0
                    for j in range(rate // 10 + i)]
            rms = round(math.sqrt(sum(v * v for v in vals) / len(vals)), 6)
            peak = round(max(abs(v) for v in vals), 6)
            cross, prev = 0, 1 if vals[0] >= 0 else -1
            for v in vals[1:]:
                sgn = prev if v == 0 else (1 if v > 0 else -1)
                if sgn != prev:
                    cross += 1
                prev = sgn
            zcr = round(cross / (len(vals) - 1), 6)
            assert out[f"a{i}"] == (rms, peak, zcr), i

    def test_flac_decode_roundtrip_pure(self):
        """decode_flac_pcm is a REAL bitstream decoder (RFC 9639):
        verbatim/constant/fixed(1-4) subframes, multi-frame streams,
        all three stereo decorrelations, 8-bit depth, and CRC-8/CRC-16
        rejection — all against the in-repo stdlib encoder."""
        import random

        from librecrawl_spark.operators.multimodal import (
            decode_flac_pcm, make_test_flac)

        s = [0, 16384, -16384, -32768, 123, -1]
        assert decode_flac_pcm(make_test_flac(8000, 16, samples=s)) \
            == (8000, 1, [v / 32768.0 for v in s])
        rate, ch, cs = decode_flac_pcm(
            make_test_flac(8000, 16, samples=[-5000] * 100))
        assert (rate, ch) == (8000, 1) and cs == [-5000 / 32768.0] * 100
        ramp = list(range(-500, 500))
        assert decode_flac_pcm(
            make_test_flac(16000, 16, samples=ramp, fixed_order=1)) \
            == (16000, 1, [v / 32768.0 for v in ramp])
        rnd = random.Random(3)
        sig = [rnd.randrange(-20000, 20000) for _ in range(1000)]
        for o in (1, 2, 3, 4):
            assert decode_flac_pcm(
                make_test_flac(44100, 16, samples=sig, fixed_order=o)) \
                == (44100, 1, [v / 32768.0 for v in sig]), f"fixed{o}"
        left = [rnd.randrange(-30000, 30000) for _ in range(700)]
        right = [rnd.randrange(-30000, 30000) for _ in range(700)]
        want = [v / 32768.0 for pair in zip(left, right) for v in pair]
        # multi-frame (block_size splits) + every stereo storage mode
        assert decode_flac_pcm(make_test_flac(
            22050, 16, channel_samples=[left, right], block_size=256)) \
            == (22050, 2, want)
        for mode in ("left_side", "right_side", "mid_side"):
            assert decode_flac_pcm(make_test_flac(
                22050, 16, channel_samples=[left, right],
                stereo_mode=mode)) == (22050, 2, want), mode
        s8 = [-128, 127, 0, 64]
        assert decode_flac_pcm(make_test_flac(8000, 8, samples=s8)) \
            == (8000, 1, [v / 128.0 for v in s8])
        # rejection: non-FLAC, truncated, flipped frame CRC-16, flipped
        # header byte (CRC-8)
        assert decode_flac_pcm(b"RIFF" * 4) is None
        assert decode_flac_pcm(b"fLaC" + b"\x00" * 10) is None
        good = bytearray(make_test_flac(8000, 16, samples=s))
        bad = bytearray(good)
        bad[-1] ^= 0xFF
        assert decode_flac_pcm(bytes(bad)) is None
        bad2 = bytearray(good)
        bad2[46] ^= 0x01
        assert decode_flac_pcm(bytes(bad2)) is None

    def test_flac_lpc_wasted_bits_escape_pure(self):
        """Handcrafted subframe/residual bitstreams exercise the
        decoder paths the fixture encoder never emits: LPC prediction,
        wasted-bits shift, Rice method 1 (5-bit params), and escaped
        (raw) residual partitions."""
        from librecrawl_spark.operators.multimodal import (
            _BitReader, _BitWriter, _flac_residual, _flac_subframe)

        # LPC order 1, coef=2, shift=1 -> pred = (2*prev)>>1 = prev:
        # identical to fixed-1, so a ramp has all-zero residuals
        bw = _BitWriter()
        bw.write(0, 1), bw.write(32, 6), bw.write(0, 1)  # lpc order 1
        bw.write(7, 16)                                  # warmup sample
        bw.write(3, 4)                                   # precision-1 -> 4
        bw.write(1, 5)                                   # shift
        bw.write(2, 4)                                   # coefficient
        bw.write(0, 2), bw.write(0, 4), bw.write(0, 4)   # rice m0 po0 p0
        for _ in range(9):
            bw.write(1, 1)                               # zigzag(0)
        bw.align()
        assert _flac_subframe(_BitReader(bw.getvalue()), 10, 16) == [7] * 10
        # wasted bits: constant 3 with k=2 wasted -> stored at bps-2,
        # decoded value shifted back up: 3<<2 = 12
        bw = _BitWriter()
        bw.write(0, 1), bw.write(0, 6)
        bw.write(1, 1), bw.write(0, 1), bw.write(1, 1)   # flag + unary(1)
        bw.write(3, 14)                                  # bps 16 - 2
        bw.align()
        assert _flac_subframe(_BitReader(bw.getvalue()), 4, 16) == [12] * 4
        # rice method 1 (5-bit params) and escape partition (raw 6-bit)
        bw = _BitWriter()
        bw.write(1, 2), bw.write(1, 4)                   # method 1, po=1
        bw.write(31, 5), bw.write(6, 5)                  # escape, raw 6
        for v in (-5, 30):
            bw.write(v, 6)
        bw.write(2, 5)                                   # param 2
        for v in (3, -3):                                # zigzag 6, 5
            u = (v << 1) ^ (-1 if v < 0 else 0)
            q = u >> 2
            for _ in range(q):
                bw.write(0, 1)
            bw.write(1, 1), bw.write(u, 2)
        bw.align()
        assert _flac_residual(_BitReader(bw.getvalue()), 4, 0) \
            == [-5, 30, 3, -3]

    def test_audio_features_real_for_flac(self, spark):
        """The mapInPandas pipeline serves REAL signal features for
        FLAC payloads (decode_flac_pcm), matching the WAV pipeline's
        output for the same samples — and the header row (rate/
        channels/duration) comes from STREAMINFO."""
        from librecrawl_spark.operators.multimodal import (
            MEDIA_SCHEMA, audio_features, make_test_flac, make_test_wav)

        sq = [32767, 32767, -32767, -32767] * 25
        rows = [
            ("f0", "audio", bytearray(make_test_flac(8000, 16, samples=sq)),
             ("audio/flac", 0, 0, 0)),
            ("w0", "audio", bytearray(make_test_wav(8000, 1, samples=sq)),
             ("audio/wav", 0, 0, 0)),
        ]
        m = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
        out = {r["media_id"]: r.asDict() for r in audio_features(m).collect()}
        f, w = out["f0"], out["w0"]
        assert f["mime"] == "audio/flac" and w["mime"] == "audio/wav"
        assert (f["sample_rate"], f["channels"]) == (8000, 1)
        assert f["duration_ms"] == w["duration_ms"] == 12
        for k in ("loudness", "peak", "zcr"):
            assert f[k] == w[k], k


class TestSitemap:
    def test_parse_urlset(self, spark):
        from librecrawl_spark.sources.sitemap import parse_sitemaps

        df = spark.createDataFrame(
            [("h1", '<?xml version="1.0"?><urlset><url><loc>https://a/1</loc></url>'
                     '<url><loc>https://a/2</loc></url></urlset>'),
             ("h2", "not xml at all")],
            "host string, sitemap_xml string",
        )
        out = parse_sitemaps(df).collect()
        assert {(r["host"], r["loc"]) for r in out} == {("h1", "https://a/1"), ("h1", "https://a/2")}

    def test_sitemap_from_robots(self, spark):
        from librecrawl_spark.sources.sitemap import sitemap_urls_from_robots

        df = spark.createDataFrame(
            [("h1", "User-agent: *\nSitemap: https://h1/sitemap.xml\nDisallow: /x")],
            "host string, robots_txt string",
        )
        out = sitemap_urls_from_robots(df).collect()
        assert out[0]["sitemap_url"] == "https://h1/sitemap.xml"

    def test_fixture_sitemaps_parse(self, spark):
        from librecrawl_spark.fixtures.sitegen import SiteGenConfig, generate_site, site_to_spark
        from librecrawl_spark.sources.sitemap import discover_sitemap_page_urls

        site = generate_site(SiteGenConfig(seed=5, n_hosts=3))
        _, hosts, _ = site_to_spark(spark, site)
        urls = discover_sitemap_page_urls(hosts)
        assert urls.count() > 0


class TestLint:
    def test_robots_lint(self, spark):
        from librecrawl_spark.functions.lint import lint_robots

        df = spark.createDataFrame(
            [("h1", "User-agent: *\nDisalow: /x\nCrawl-delay: fast\nDisallow: noslash\njunk line")],
            "host string, robots_txt string",
        )
        out = {r["finding"] for r in lint_robots(df).collect()}
        assert any("unknown directive" in f for f in out)
        assert any("not numeric" in f for f in out)
        assert any("missing ':'" in f for f in out)
        assert any("start with" in f for f in out)

    def test_llms_lint(self, spark):
        from librecrawl_spark.functions.lint import lint_llms_txt

        df = spark.createDataFrame(
            [("h1", ""), ("h2", "no title here but long enough content to pass the length check ok"),
             ("h3", "# Proper Site\n> description\n## Docs section with plenty of text here")],
            "host string, llms_txt string",
        )
        out = {(r["host"], r["finding"]) for r in lint_llms_txt(df).collect()}
        hosts_with_findings = {h for h, _ in out}
        assert "h1" in hosts_with_findings and "h2" in hosts_with_findings
        assert "h3" not in hosts_with_findings


class TestExportsAndIncremental:
    def test_exports_and_viz(self, spark, tmp_path):
        from librecrawl_spark.config import CrawlConfig
        from librecrawl_spark.fixtures.sitegen import SiteGenConfig, generate_site, site_to_spark
        from librecrawl_spark.plans.crawl import CrawlEngine
        from librecrawl_spark.sources import exports as E

        site = generate_site(SiteGenConfig(seed=9, n_hosts=2, pages_base_host=10))
        docs, hosts, _ = site_to_spark(spark, site)
        res = CrawlEngine(spark, docs, hosts, site.base_url,
                          CrawlConfig(max_urls=20, discover_sitemaps=False),
                          seed_urls=[s["url"] for s in site.seeds]).run()
        flat = E.pages_export(res.pages)
        assert flat.count() == res.pages.count()
        for f in flat.schema.fields:
            assert not str(f.dataType).startswith(("ArrayType", "MapType", "StructType"))
        E.write_pages_csv(res.pages, str(tmp_path / "csv"))
        back = spark.read.option("header", True).csv(str(tmp_path / "csv"))
        assert back.count() == flat.count()
        nodes, edges = E.visualization_graph(res.pages, res.links, cap=5)
        assert nodes.count() <= 5
        stats = E.crawl_stats(res.pages, res.seen).collect()[0]
        assert stats["crawled"] == res.stats["crawled"]

    def test_incremental_reader(self, spark, tmp_path):
        from librecrawl_spark.storage.tableio import TableIO
        from librecrawl_spark.streaming.incremental import IncrementalReader

        tio = TableIO(str(tmp_path / "inc"))
        tio.commit("pages", spark.range(5).selectExpr("id", "'a' as v"))
        r = IncrementalReader(tio)
        df, snap = r.new_since(spark, None)
        assert df.count() == 5
        tio.commit("pages", spark.range(3).selectExpr("id + 100 as id", "'b' as v"))
        delta, snap2 = r.new_since(spark, snap)
        assert delta.count() == 3
        assert {x["id"] for x in delta.collect()} == {100, 101, 102}
        none, _ = r.new_since(spark, snap2)
        assert none.count() == 0


class TestMisc:
    def test_requires_js(self, spark):
        from librecrawl_spark.operators.misc import requires_js

        raw = spark.createDataFrame(
            [("u1", "<html>small</html>"), ("u2", "<html>same body</html>")],
            "url string, body string")
        ren = spark.createDataFrame(
            [("u1", "<html>small plus lots of rendered js content here</html>"),
             ("u2", "<html>same body</html>")],
            "url string, body string")
        out = {r["url"]: r["requires_js"] for r in requires_js(raw, ren).collect()}
        assert out == {"u1": True, "u2": False}

    def test_homepage_selection(self, spark):
        from librecrawl_spark.operators.misc import homepage_of

        pages = spark.createDataFrame(
            [("https://x.example/a/b", 200, True), ("https://x.example/a", 200, True),
             ("https://x.example/z", 404, True)],
            "url string, status_code int, is_internal boolean")
        hp = homepage_of(pages, "https://x.example").collect()
        assert hp[0]["url"] == "https://x.example/a"

    def test_keyword_gap(self, spark):
        from librecrawl_spark.operators.misc import keyword_gap

        ours = spark.createDataFrame([("a",), ("b",)], "keyword string")
        comp = spark.createDataFrame([("b",), ("c",)], "keyword string")
        out = keyword_gap(ours, comp)
        assert {r["keyword"] for r in out["gap"].collect()} == {"c"}
        assert {r["keyword"] for r in out["shared"].collect()} == {"b"}
        assert {r["keyword"] for r in out["opportunity"].collect()} == {"a"}

    def test_top_keywords(self, spark):
        from librecrawl_spark.operators.misc import top_keywords

        docs = spark.createDataFrame(
            [(1, "alpha beta alpha beta gamma"), (2, "alpha beta delta")],
            "doc_id long, text string")
        out = top_keywords(docs, n=2, top_k=3).collect()
        assert out[0]["gram"] == "alpha beta" and out[0]["freq"] == 3


class TestWinnowing:
    def test_guarantee_shared_passage_collides(self, spark):
        """Winnowing's defining property: any shared token run of length
        >= w+k-1 (= 8 here) yields at least one common fingerprint."""
        from librecrawl_spark.operators.text import (
            winnow_dup_candidates, winnow_fingerprints)

        passage = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
        docs = spark.createDataFrame(
            [("d1", f"intro words here {passage} tail one"),
             ("d2", f"other start {passage} different ending text"),
             ("d3", "completely unrelated content with many other words inside")],
            "doc_id string, text string",
        )
        pairs = {(r["id_a"], r["id_b"])
                 for r in winnow_dup_candidates(docs).collect()}
        assert ("d1", "d2") in pairs
        assert ("d1", "d3") not in pairs and ("d2", "d3") not in pairs
        fps = {r["doc_id"]: r for r in winnow_fingerprints(docs).collect()}
        assert all(fps[d]["n_fp"] > 0 for d in ("d1", "d2", "d3"))

    def test_short_doc_edges(self, spark):
        """Sub-k and sub-w docs must not abort (sequence(1,0) guard) and
        degrade to 0 or 1 fingerprints."""
        from librecrawl_spark.operators.text import winnow_fingerprints

        docs = spark.createDataFrame(
            [("tiny", "two words"),              # < k tokens -> no grams
             ("five", "one two three four five"),  # exactly k -> 1 gram < w
             ("seven", "a b c d e f g")],          # 3 grams < w windows
            "doc_id string, text string",
        )
        out = {r["doc_id"]: (r["n_fp"], r["fingerprints_csv"])
               for r in winnow_fingerprints(docs).collect()}
        assert out["tiny"] == (0, "")
        assert out["five"][0] == 1
        assert out["seven"][0] == 1  # min over 3 grams, window > doc


class TestVideoHeader:
    def test_mp4_header_parse_pure(self):
        from librecrawl_spark.operators.multimodal import (
            make_test_mp4, parse_mp4_header)

        assert parse_mp4_header(make_test_mp4(3000, 1000, version=0)) \
            == ("video/mp4", 1000, 3000)
        assert parse_mp4_header(make_test_mp4(7500, 90000, version=1)) \
            == ("video/mp4", 90000, 7500)
        assert parse_mp4_header(make_test_mp4(0, 600)) == ("video/mp4", 600, 0)
        assert parse_mp4_header(b"not an mp4 file!") is None
        assert parse_mp4_header(b"") is None
        # truncated moov: size field points past the buffer -> None
        broken = make_test_mp4(3000, 1000)[:-10]
        assert parse_mp4_header(broken) is None

    def test_sample_frames_uses_real_mvhd_duration(self, spark):
        """The frame schedule must come from the payload's mvhd box —
        the fixture's meta.duration_ms is deliberately 0."""
        from librecrawl_spark.operators.multimodal import (
            sample_frames, synthetic_media)

        m = synthetic_media(spark, 12)
        frames = sample_frames(m, every_ms=1000)
        per_vid = {r["media_id"]: r["n"] for r in
                   frames.groupBy("media_id").count()
                   .withColumnRenamed("count", "n").collect()}
        # videos are i % 3 == 0 -> m0, m3, m6, m9 with durations
        # 3000 + i*100 ms -> 3000, 3300, 3600, 3900 -> 3, 4, 4, 4 frames
        assert per_vid == {"m0": 3, "m3": 4, "m6": 4, "m9": 4}


class TestPageColumns:
    def test_page_columns_match_schema_order(self, spark):
        """extract_pages builds row tuples positionally against
        PAGE_COLUMNS (workers cannot parse the DDL — no SparkContext),
        so the inlined list must track PAGE_SCHEMA exactly."""
        from librecrawl_spark.operators.extract import PAGE_COLUMNS, _page_fields

        assert PAGE_COLUMNS == [f.name for f in _page_fields()]
