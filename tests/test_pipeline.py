"""Unit tests for the training-data pipeline operators
(librecrawl_spark/operators/pipeline.py): stratified sampling,
concat-then-chunk packing, cluster representative selection.

Each test checks the engine against an independent pure-Python
transcription of the operator's definition (hashlib md5 / running sums /
argmax), not against the engine itself."""

import hashlib

import pytest
from pyspark.sql import functions as F

TD = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{TD}/documents.parquet").persist()


class TestStratifiedSample:
    RATES = {"en": 0.5, "zh": 0.25, "de": 1.0, "fr": 0.1}

    @staticmethod
    def _py_keep(doc_id, lang, rates, default_rate=0.05):
        from librecrawl_spark.operators.pipeline import _rate_threshold

        key = hashlib.md5(f"strat:{doc_id}".encode()).hexdigest()[:4]
        return key < _rate_threshold(rates.get(lang, default_rate))

    def test_matches_python_md5_transcription(self, spark, docs):
        from librecrawl_spark.operators.pipeline import stratified_sample

        out = stratified_sample(
            docs, self.RATES, default_rate=0.05
        ).select("doc_id", "lang").collect()
        got = {r["doc_id"] for r in out}
        want = {
            r["doc_id"]
            for r in docs.select("doc_id", "lang").collect()
            if self._py_keep(r["doc_id"], r["lang"], self.RATES)
        }
        assert got == want and len(want) > 0

    def test_rate_one_keeps_all_rate_zero_keeps_none(self, spark):
        from librecrawl_spark.operators.pipeline import stratified_sample

        df = spark.createDataFrame(
            [(i, "a" if i % 2 == 0 else "b") for i in range(200)],
            "doc_id long, lang string",
        )
        out = stratified_sample(df, {"a": 1.0, "b": 0.0}).collect()
        assert len(out) == 100 and all(r["lang"] == "a" for r in out)

    def test_rate_just_under_one_keeps_nearly_all(self, spark):
        """A rate that rounds to 2^16 (e.g. 0.999999) must clamp to
        0xffff, not spill to 5-hex-char '10000' — the unclamped string
        compares lexicographically below most 4-char keys and would
        silently drop ~94% of the stratum."""
        from librecrawl_spark.operators.pipeline import stratified_sample

        df = spark.createDataFrame(
            [(i, "x") for i in range(512)], "doc_id long, lang string")
        kept = stratified_sample(df, {"x": 0.999999}).count()
        # only keys hashing exactly to 'ffff' (p = 2^-16) may drop
        assert kept >= 510

    def test_deterministic_and_monotone_in_corpus(self, spark):
        """Keys kept at rate r over a 100-doc corpus are exactly the
        kept keys of the same rate over the grown 300-doc corpus,
        restricted to the first 100 ids (key-determinism)."""
        from librecrawl_spark.operators.pipeline import stratified_sample

        small = spark.createDataFrame(
            [(i, "x") for i in range(100)], "doc_id long, lang string")
        big = spark.createDataFrame(
            [(i, "x") for i in range(300)], "doc_id long, lang string")
        ks = {r["doc_id"] for r in stratified_sample(small, {"x": 0.3}).collect()}
        kb = {r["doc_id"] for r in stratified_sample(big, {"x": 0.3}).collect()}
        assert ks == {k for k in kb if k < 100}


class TestChunkPacking:
    BUDGET = 64

    def test_matches_sequential_transcription(self, spark, docs):
        from librecrawl_spark.operators.pipeline import concat_chunk_packing

        d = docs.select(
            "doc_id",
            F.size(F.expr(r"regexp_extract_all(text, '\\w+', 0)"))
            .cast("long").alias("n_tokens"),
        )
        out, h = concat_chunk_packing(d, "n_tokens", budget=self.BUDGET)
        rows = {r["doc_id"]: r for r in out.collect()}
        if h is not None:
            h.unpersist()

        seq = sorted(
            ((r["doc_id"], r["n_tokens"]) for r in d.collect()),
        )
        off = 0
        assert len(rows) == len(seq) > 0
        for doc_id, tok in seq:
            r = rows[doc_id]
            first = off // self.BUDGET
            last = (off + max(tok, 1) - 1) // self.BUDGET
            assert r["start_off"] == off
            assert r["chunk_first"] == first
            assert r["chunk_last"] == last
            assert r["n_chunks"] == last - first + 1
            off += tok

    def test_chunk_membership_covers_budget(self, spark):
        """Every chunk except the last holds exactly `budget` tokens
        when intersecting doc spans with the chunk interval."""
        from librecrawl_spark.operators.pipeline import concat_chunk_packing

        df = spark.createDataFrame(
            [(i, (i * 37 + 11) % 90 + 1) for i in range(500)],
            "doc_id long, n_tokens long",
        )
        out, h = concat_chunk_packing(df, "n_tokens", budget=128)
        rows = out.collect()
        if h is not None:
            h.unpersist()
        total = sum(r["n_tokens"] for r in rows)
        n_chunks = (total + 127) // 128
        per_chunk = [0] * n_chunks
        for r in rows:
            s, e = r["start_off"], r["start_off"] + r["n_tokens"]
            for c in range(r["chunk_first"], r["chunk_last"] + 1):
                lo, hi = c * 128, (c + 1) * 128
                per_chunk[c] += max(0, min(e, hi) - max(s, lo))
        assert all(v == 128 for v in per_chunk[:-1])
        assert per_chunk[-1] == total - 128 * (n_chunks - 1)

    def test_empty_input(self, spark):
        from librecrawl_spark.operators.pipeline import concat_chunk_packing

        df = spark.createDataFrame([], "doc_id long, n_tokens long")
        out, _ = concat_chunk_packing(df, "n_tokens", budget=16)
        assert out.count() == 0


class TestContamination:
    def test_planted_overlap(self, spark):
        from librecrawl_spark.operators.pipeline import benchmark_contamination

        bench = spark.createDataFrame(
            [(100, "the quick brown fox jumps over the lazy dog")],
            "doc_id long, text string",
        )
        corpus = spark.createDataFrame(
            [
                # shares the 3-gram "quick brown fox" (and more)
                (1, "a quick brown fox appeared in the garden today"),
                # no 3-token overlap
                (2, "completely unrelated text with different words entirely"),
                # exact copy -> ratio 1.0
                (3, "the quick brown fox jumps over the lazy dog"),
            ],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r for r in
               benchmark_contamination(corpus, bench).collect()}
        assert set(got) == {1, 3}
        assert got[3]["contamination_ratio"] == 1.0
        assert got[3]["n_bench_docs"] == 1
        # doc 1: tokens = a quick brown fox appeared in the garden today
        # shared distinct 3-grams with bench: "quick brown fox" only
        assert got[1]["n_hit_shingles"] == 1
        assert got[1]["n_shingles"] == 7

    def test_matches_python_transcription_on_fixture(self, spark, docs):
        from librecrawl_spark.operators.pipeline import benchmark_contamination
        import re

        bench = docs.filter(F.col("doc_id") % 83 == 0)
        got = {r["doc_id"]: (r["n_hit_shingles"], r["n_bench_docs"],
                             r["n_shingles"])
               for r in benchmark_contamination(docs, bench).collect()}

        def sh(text):
            # ASCII \w to match Java/RE2 semantics (not Python's unicode \w)
            t = re.findall(r"[0-9A-Za-z_]+", text or "")
            return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}

        rows = docs.select("doc_id", "text").collect()
        b = {r["doc_id"]: sh(r["text"]) for r in rows if r["doc_id"] % 83 == 0}
        want = {}
        for r in rows:
            s = sh(r["text"])
            if not s:
                continue
            hit = set().union(*(s & bs for bs in b.values())) if b else set()
            nb = sum(1 for bs in b.values() if s & bs)
            if hit:
                want[r["doc_id"]] = (len(hit), nb, len(s))
        assert got == want and len(want) > 0


class TestClusterRepresentatives:
    def test_argmax_with_tiebreak(self, spark):
        from librecrawl_spark.operators.pipeline import cluster_representatives

        clusters = spark.createDataFrame(
            [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 5)],
            "doc_id long, cluster long",
        )
        docs = spark.createDataFrame(
            [(1, 10), (2, 30), (3, 30), (4, 7), (5, 2), (6, 2)],
            "doc_id long, q long",
        )
        got = {r["cluster"]: r for r in
               cluster_representatives(docs, clusters, "q").collect()}
        # cluster 1: max q=30 tie between 2 and 3 -> min doc_id 2
        assert got[1]["rep_doc_id"] == 2 and got[1]["rep_quality"] == 30
        assert got[1]["cluster_size"] == 3
        assert got[4]["rep_doc_id"] == 4 and got[4]["cluster_size"] == 1
        # cluster 5: tie at q=2 -> doc 5
        assert got[5]["rep_doc_id"] == 5


class TestKmeansCodebook:
    @staticmethod
    def _py_kmeans(rows, k, iters):
        """Independent numpy-free Lloyd's transcription: seed = k
        smallest ids, round-6 scores with min-cid tie-break, round-6
        centroid means, empty clusters drop."""
        data = {r["vec_id"]: [float(v) for v in r["embedding"]] for r in rows}

        def cos(a, b):
            dot = sum(x * y for x, y in zip(a, b))
            na = sum(x * x for x in a) ** 0.5
            nb = sum(x * x for x in b) ** 0.5
            return round(dot / (na * nb), 6)

        cent = {i: data[i] for i in sorted(data)[:k]}
        asg = {}
        for it in range(iters):
            asg = {
                vid: max(cent, key=lambda c: (cos(v, cent[c]), -c))
                for vid, v in data.items()
            }
            if it < iters - 1:
                new = {}
                for c in set(asg.values()):
                    members = [data[v] for v in data if asg[v] == c]
                    new[c] = [
                        round(sum(m[d] for m in members) / len(members), 6)
                        for d in range(len(members[0]))
                    ]
                cent = new
        return asg

    def test_matches_python_transcription(self, spark):
        from librecrawl_spark.operators.similarity import kmeans_codebook

        emb = spark.read.parquet(f"{TD}/embeddings.parquet")
        got = {
            r["vec_id"]: r["cluster"]
            for r in kmeans_codebook(emb, k=4, iters=2).collect()
        }
        want = self._py_kmeans(emb.collect(), k=4, iters=2)
        assert got == want and len(set(got.values())) > 1

    def test_single_iteration_equals_ivf_assignment_seed(self, spark):
        """iters=1 is exactly the ivf_topk deterministic-quantizer
        assignment (no update step)."""
        from librecrawl_spark.operators.similarity import kmeans_codebook

        emb = spark.read.parquet(f"{TD}/embeddings.parquet")
        got = {
            r["vec_id"]: r["cluster"]
            for r in kmeans_codebook(emb, k=4, iters=1).collect()
        }
        want = self._py_kmeans(emb.collect(), k=4, iters=1)
        assert got == want


class TestTfidfTopTerms:
    def test_matches_python_transcription(self, spark):
        import math
        import re

        from librecrawl_spark.operators.text import tfidf_top_terms

        docs = spark.read.parquet(f"{TD}/documents.parquet").select(
            "doc_id", "text").limit(50)
        rows = docs.collect()
        n = float(len(rows))
        tf, dfreq = {}, {}
        for r in rows:
            counts = {}
            for t in re.findall(r"\w+", (r["text"] or "").lower()):
                counts[t] = counts.get(t, 0) + 1
            tf[r["doc_id"]] = counts
            for t in counts:
                dfreq[t] = dfreq.get(t, 0) + 1
        want = {}
        for did, counts in tf.items():
            scored = sorted(
                ((round(c * math.log(n / dfreq[t]), 6), t) for t, c in counts.items()),
                key=lambda x: (-x[0], x[1]))
            want[did] = [(t, s) for s, t in scored[:3]]
        got = {}
        for r in tfidf_top_terms(docs, top_k=3).collect():
            got.setdefault(r["doc_id"], []).append((r["rn"], r["term"], r["tfidf"]))
        got = {d: [(t, s) for _, t, s in sorted(v)] for d, v in got.items()}
        assert got == want and len(want) == 50


class TestDomainMixRates:
    def test_rates_hit_targets_and_cap_at_one(self, spark):
        from librecrawl_spark.operators.pipeline import domain_mix_rates

        rows = ([("en", 100)] * 8) + ([("de", 100)] * 1) + ([("zh", 100)] * 1)
        df = spark.createDataFrame(rows, schema="lang string, n_tokens long")
        out = {r["stratum"]: r for r in domain_mix_rates(
            df, targets={"en": 0.5, "de": 0.5}).collect()}
        # en is 80% of weight, target 50% -> keep 0.625 of it
        assert out["en"]["keep_rate"] == pytest.approx(0.625)
        # de is 10%, target 50% -> cannot upsample, rate caps at 1
        assert out["de"]["keep_rate"] == 1.0
        # zh absent from targets -> excluded
        assert out["zh"]["keep_rate"] == 0.0
        assert out["en"]["share"] == pytest.approx(0.8)

    def test_feeds_stratified_sample(self, spark, docs):
        """The computed keep_rates plug straight into stratified_sample's
        rates dict (the operators compose)."""
        from librecrawl_spark.operators.pipeline import (
            domain_mix_rates, stratified_sample)

        weighted = docs.select(
            "doc_id", "lang", F.col("n_chars").cast("long").alias("n_tokens"))
        rates = {r["stratum"]: r["keep_rate"] for r in domain_mix_rates(
            weighted, targets={"en": 0.5, "de": 0.5}).collect()}
        kept = stratified_sample(docs, rates, default_rate=0.0).count()
        assert 0 < kept < docs.count()
