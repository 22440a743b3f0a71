"""Unit tests for the KMV distinct sketch (operators/sketch.py), the
unigram-LM fluency score (operators/text.py:unigram_logprob), shingle
containment and incremental MinHash (operators/dedup.py) and priority
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


def _py_containment(docs, t=0.8, k=3, max_df=1000):
    shsets = {}
    for i, txt in docs:
        ws = re.findall(r"\w+", txt)
        sh = {" ".join(ws[j:j + k]) for j in range(len(ws) - k + 1)}
        if sh:
            shsets[i] = sh
    dfreq = Counter(s for sh in shsets.values() for s in sh)
    out = {}
    for a, sa in shsets.items():
        for b, sb in shsets.items():
            if a == b:
                continue
            inter = sa & sb
            # candidate iff any shared shingle is cold (df <= max_df)
            if not any(dfreq[s] <= max_df for s in inter):
                continue
            c = round(len(inter) / len(sa), 6)
            if c >= t:
                out[(a, b)] = c
    return out


class TestContainmentPairs:
    def test_planted_quote_and_transcription(self, spark):
        from librecrawl_spark.operators.dedup import containment_pairs

        base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
                "juliet kilo lima mike november oscar papa quebec romeo "
                "sierra tango uniform victor whiskey xray yankee zulu")
        docs = [
            (1, base + " one two three four five six seven eight nine ten"),
            (2, " ".join(base.split()[:12])),        # prefix quote of 1
            (3, "completely different words about nothing shared here at "
                "all in any way whatsoever through the entire text body"),
            (4, "tiny"),                              # < k tokens: no shingles
            (5, base + " one two three four five six seven eight nine ten"),
        ]
        df = spark.createDataFrame(docs, schema="doc_id long, text string")
        got = {(r["doc_inner"], r["doc_outer"]): r["containment"]
               for r in containment_pairs(df, threshold=0.8).collect()}
        want = _py_containment(docs)
        assert got == want
        # the quote is contained in both long docs; reverse is not
        assert got[(2, 1)] == 1.0 and got[(2, 5)] == 1.0
        assert (1, 2) not in got
        # exact duplicates contain each other
        assert got[(1, 5)] == 1.0 and got[(5, 1)] == 1.0

    def test_jaccard_misses_what_containment_catches(self, spark):
        from librecrawl_spark.operators.dedup import (containment_pairs,
                                                      ngram_jaccard_pairs)

        long_txt = " ".join(f"w{i} w{i + 1} w{i + 2}" for i in range(200))
        docs = [(1, long_txt), (2, " ".join(long_txt.split()[:15]))]
        df = spark.createDataFrame(docs, schema="doc_id long, text string")
        cp = containment_pairs(df, threshold=0.8).collect()
        jp = ngram_jaccard_pairs(df, threshold=0.8).collect()
        assert any(r["doc_inner"] == 2 and r["doc_outer"] == 1 for r in cp)
        assert jp == []  # symmetric Jaccard can't see the embedding


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


class TestMinhashIncremental:
    DOCS = [
        (1, "the quick brown fox jumps over the lazy dog again and again "
            "with some more filler words to make shingles"),
        (2, "the quick brown fox jumps over the lazy dog again and again "
            "with some more filler words to make shingles"),     # dup of 1
        (3, "completely different content about spark dataframes and "
            "shuffle partitions in distributed execution engines"),
        (4, "the quick brown fox jumps over the lazy dog again and again "
            "with some more filler words to make shingles today"),  # near 1
        (5, "another entirely unrelated document mentioning nothing that "
            "overlaps with any of the previous texts at all honestly"),
    ]

    def test_incremental_covers_exactly_new_pairs(self, spark):
        from librecrawl_spark.operators.dedup import (
            minhash_band_index, minhash_incremental_candidates,
            minhash_lsh_candidates)

        df = spark.createDataFrame(self.DOCS, schema="doc_id long, text string")
        old = df.filter("doc_id <= 2")
        new = df.filter("doc_id >= 3")
        idx = minhash_band_index(old)
        pairs, new_bands = minhash_incremental_candidates(new, idx)
        got = {(r["doc_a"], r["doc_b"], r["against"])
               for r in pairs.collect()}
        # full-corpus candidates, restricted to pairs touching a new doc
        full = {(r["doc_a"], r["doc_b"])
                for r in minhash_lsh_candidates(df).collect()}
        want = set()
        for a, b in full:
            if a >= 3 and b >= 3:
                want.add((a, b, "wave"))
            elif b >= 3:                       # old doc_a < new doc_b
                want.add((b, a, "index"))      # new doc is always doc_a
            elif a >= 3:
                want.add((a, b, "index"))
        assert got == want
        # the dup/near-dup of doc 1 must surface against the index
        assert (4, 1, "index") in got or (4, 2, "index") in got
        # band rows are appendable index rows for the new docs only
        assert set(r["doc_id"] for r in new_bands.collect()) <= {3, 4, 5}


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
