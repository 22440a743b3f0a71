"""Unit tests for the KMV distinct sketch (operators/sketch.py), the
unigram-LM fluency score (operators/text.py:unigram_logprob) and priority
sampling (operators/pipeline.py:priority_sample) — each against an
independent pure-Python transcription."""

import hashlib
import math
import re
from collections import Counter

from pyspark.sql import functions as F


def _py_kmv_hash(x) -> int:
    return int(hashlib.md5(str(x).encode()).hexdigest()[:15], 16)


class TestKmvDistinct:
    def _run(self, spark, values, k):
        from librecrawl_spark.operators.sketch import kmv_distinct

        df = spark.createDataFrame([(v,) for v in values], schema="v string")
        return kmv_distinct(df, "v", k=k).collect()[0]

    def test_small_set_exact_fallback(self, spark):
        # fewer distinct values than k: the estimate IS the exact count
        vals = [f"url{i % 7}" for i in range(50)]
        row = self._run(spark, vals, k=512)
        assert row["k_used"] == 7
        assert row["est_distinct"] == 7.0

    def test_matches_python_transcription(self, spark):
        vals = [f"https://h{i % 37}.example/p{i % 211}" for i in range(1000)]
        k = 16
        row = self._run(spark, vals, k=k)
        hashes = sorted({_py_kmv_hash(v) for v in set(vals)})
        bottom = hashes[:k]
        kth = bottom[-1]
        est = round((k - 1) * float(2 ** 60) / float(kth), 4)
        assert row["k_used"] == k
        assert row["kth_hash"] == kth
        assert row["est_distinct"] == est
        # sanity: the estimate is in the right ballpark of the truth
        true = len(set(vals))
        assert 0.3 * true < row["est_distinct"] < 3.0 * true

    def test_estimate_reasonable_at_k512(self, spark):
        vals = [str(i) for i in range(5000)]
        row = self._run(spark, vals, k=512)
        # rel. error ~ 1/sqrt(510) ≈ 4.4%; allow 5 sigma
        assert abs(row["est_distinct"] - 5000) / 5000 < 0.25


def _py_unigram(docs):
    tok = lambda t: re.findall(r"\w+", t.lower())  # noqa: E731
    freq = Counter(w for _, t in docs for w in tok(t))
    tot = float(sum(freq.values()))
    out = {}
    for i, t in docs:
        ws = tok(t)
        if not ws:
            continue
        out[i] = (len(ws),
                  round(sum(math.log(freq[w] / tot) for w in ws) / len(ws), 6))
    return out


class TestUnigramLogprob:
    DOCS = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the the the the common words score higher"),
        (3, "zyzzyva qwertyuiop asdfghjkl rare tokens"),
        (4, "The Quick BROWN fox!"),
        (5, ""),
    ]

    def test_matches_python_transcription(self, spark):
        from librecrawl_spark.operators.text import unigram_logprob

        df = spark.createDataFrame(self.DOCS, schema="doc_id long, text string")
        got = {r["doc_id"]: (r["n_tokens"], r["avg_logp"])
               for r in unigram_logprob(df).collect()}
        want = _py_unigram(self.DOCS)
        assert set(got) == set(want)
        for k in want:
            assert got[k][0] == want[k][0]
            assert abs(got[k][1] - want[k][1]) < 1e-9, (k, got[k], want[k])

    def test_common_words_score_higher(self, spark):
        from librecrawl_spark.operators.text import unigram_logprob

        df = spark.createDataFrame(self.DOCS, schema="doc_id long, text string")
        got = {r["doc_id"]: r["avg_logp"]
               for r in unigram_logprob(df).collect()}
        assert got[2] > got[3]  # repeated common words beat rare junk


class TestKmvDistinctBy:
    def test_matches_python_per_group(self, spark):
        from librecrawl_spark.operators.sketch import kmv_distinct_by

        rows = [(f"g{i % 3}", f"v{i % 97}") for i in range(600)]
        df = spark.createDataFrame(rows, schema="grp string, v string")
        k = 8
        got = {r["grp"]: (r["k_used"], r["kth_hash"], r["est_distinct"])
               for r in kmv_distinct_by(df, "grp", "v", k=k).collect()}
        for g in ("g0", "g1", "g2"):
            vals = {v for gg, v in rows if gg == g}
            hashes = sorted({_py_kmv_hash(v) for v in vals})[:k]
            kth = hashes[-1]
            if len(hashes) < k:
                est = float(len(hashes))
            else:
                est = round((k - 1) * float(2 ** 60) / float(kth), 4)
            assert got[g] == (len(hashes), kth, est), g

    def test_small_groups_exact(self, spark):
        from librecrawl_spark.operators.sketch import kmv_distinct_by

        rows = [("a", "x"), ("a", "y"), ("a", "x"), ("b", "z")]
        df = spark.createDataFrame(rows, schema="grp string, v string")
        got = {r["grp"]: r["est_distinct"]
               for r in kmv_distinct_by(df, "grp", "v", k=16).collect()}
        assert got == {"a": 2.0, "b": 1.0}


class TestPrioritySample:
    def test_matches_python_transcription(self, spark):
        from librecrawl_spark.operators.pipeline import priority_sample

        rows = [(i, (i * 37) % 100 + 1) for i in range(500)]
        df = spark.createDataFrame(rows, schema="id long, w long")
        got = [(r["id"], r["w"], r["priority"])
               for r in priority_sample(df, "id", "w", 20).collect()]
        hs = float(2 ** 60)
        pri = [(i, w, w / ((_py_kmv_hash(i) + 1) / hs)) for i, w in rows]
        pri.sort(key=lambda t: (-t[2], t[0]))
        want = [(i, w, round(q, 4)) for i, w, q in pri[:20]]
        assert got == want

    def test_weight_bias(self, spark):
        from librecrawl_spark.operators.pipeline import priority_sample

        # 50 heavy rows (w=1000) among 950 light rows (w=1): the heavy
        # rows should dominate a k=50 sample
        rows = [(i, 1000 if i < 50 else 1) for i in range(1000)]
        df = spark.createDataFrame(rows, schema="id long, w long")
        got = priority_sample(df, "id", "w", 50).collect()
        n_heavy = sum(1 for r in got if r["w"] == 1000)
        assert n_heavy >= 40


class TestKmvMerge:
    def test_merge_equals_whole(self, spark):
        from librecrawl_spark.operators.sketch import (kmv_bottom,
                                                       kmv_distinct,
                                                       kmv_merge)

        vals = [f"u{i}" for i in range(3000)]
        k = 32
        df = spark.createDataFrame([(v,) for v in vals], schema="v string")
        half_a = df.filter(F.length("v") <= 3)   # u0..u99
        half_b = df.filter(F.length("v") > 3)
        merged = kmv_merge(
            kmv_bottom(half_a, "v", k).unionByName(kmv_bottom(half_b, "v", k)),
            k).collect()[0]
        whole = kmv_distinct(df, "v", k).collect()[0]
        assert (merged["k_used"], merged["kth_hash"],
                merged["est_distinct"]) == \
               (whole["k_used"], whole["kth_hash"], whole["est_distinct"])
