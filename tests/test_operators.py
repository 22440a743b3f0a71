"""Unit tests for the operator library: similarity, text, sitemap,
lint, exports."""

import pytest
from pyspark.sql import functions as F

TD = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{TD}/documents.parquet").persist()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{TD}/embeddings.parquet").persist()


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


class TestPageColumns:
    def test_page_columns_match_schema_order(self, spark):
        """extract_pages builds row tuples positionally against
        PAGE_COLUMNS (workers cannot parse the DDL — no SparkContext),
        so the inlined list must track PAGE_SCHEMA exactly."""
        from librecrawl_spark.operators.extract import PAGE_COLUMNS, _page_fields

        assert PAGE_COLUMNS == [f.name for f in _page_fields()]
