"""End-to-end crawl equivalence: the Spark engine must reproduce the
reference-transcription oracle exactly (SURVEY.md §5 item 3):
(a) URL-seen set + discovery order, (b) fetch/crawl ordering,
(c) SEO extraction fields, (d) the link graph, (e) trap patterns."""

import pytest

from librecrawl_spark.config import CrawlConfig
from librecrawl_spark.fixtures.sitegen import SiteGenConfig, generate_site, site_to_spark
from librecrawl_spark.oracle.refcrawl import ReferenceCrawlOracle
from librecrawl_spark.plans.crawl import CrawlEngine


def run_both(spark, site_cfg, cfg, **engine_kw):
    site = generate_site(site_cfg)
    seeds = [s["url"] for s in site.seeds]
    oracle = ReferenceCrawlOracle(site.documents, site.hosts, site.base_url, cfg).run(seeds)
    docs, hosts, _ = site_to_spark(spark, site)
    engine = CrawlEngine(spark, docs, hosts, site.base_url, cfg, seed_urls=seeds,
                         **engine_kw).run()
    return oracle, engine


SMALL = SiteGenConfig(seed=42, n_hosts=4, pages_base_host=18, pages_other_host=5)
CFG = CrawlConfig(max_depth=3, max_urls=100, discover_sitemaps=False)


@pytest.fixture(scope="module")
def both(spark):
    return run_both(spark, SMALL, CFG)


def test_seen_set_and_order(both):
    oracle, engine = both
    got = {(r["url"], r["seq"], r["depth"])
           for r in engine.seen.collect()}
    want = {(u, i, d) for i, (u, d) in enumerate(oracle["seen"])}
    assert got == want


def test_fetch_order(both):
    oracle, engine = both
    got = [(r["url"], r["depth"]) for r in
           engine.pages.orderBy("wave", "seq").select("url", "depth").collect()]
    assert got == oracle["fetch_order"]


def test_page_extraction_fields(both):
    oracle, engine = both
    cols = ["url", "status_code", "content_type", "size", "is_internal", "depth",
            "title", "meta_description", "h1", "h1_list", "h2", "h3",
            "word_count", "canonical_url", "robots", "viewport",
            "internal_links", "external_links", "redirect_count", "redirects",
            "json_ld_count", "json_ld", "error", "lang", "charset", "x_robots_tag",
            "schema_types", "faq_count", "has_organization", "has_website",
            "article_fields_ok", "retry_count", "backoff_total",
            "response_time"]
    got = {r["url"]: r.asDict() for r in engine.pages.select(*cols).collect()}
    assert set(got) == {p["url"] for p in oracle["pages"]}
    for p in oracle["pages"]:
        g = got[p["url"]]
        for c in cols:
            assert g[c] == p[c], f"{p['url']} field {c}: engine={g[c]!r} oracle={p[c]!r}"


def test_nested_fields(both):
    oracle, engine = both
    got = {r["url"]: r for r in engine.pages.select(
        "url", "headings_structure", "images", "hreflang", "redirect_chain",
        "og_tags", "twitter_tags", "analytics", "schema_org", "ai_ready",
        "response_headers", "links_data").collect()}
    for p in oracle["pages"]:
        g = got[p["url"]]
        assert [dict(h.asDict()) for h in g["headings_structure"]] == p["headings_structure"]
        assert [dict(i.asDict()) for i in g["images"]] == p["images"]
        assert [dict(h.asDict()) for h in g["hreflang"]] == p["hreflang"]
        assert dict(g["og_tags"] or {}) == p["og_tags"]
        assert dict(g["twitter_tags"] or {}) == p["twitter_tags"]
        assert g["analytics"].asDict() == p["analytics"]
        assert [{"type": x["type"], "properties": dict(x["properties"] or {})}
                for x in g["schema_org"]] == p["schema_org"]
        assert [dict(a.asDict()) for a in g["ai_ready"]] == p["ai_ready"]
        assert dict(g["response_headers"] or {}) == p["response_headers"]
        assert [dict(l.asDict(), rel=list(l["rel"])) for l in g["links_data"]] \
            == p["links_data"], p["url"]
        chain = [
            {k: v for k, v in c.asDict().items() if not (k == "final" and not v)}
            for c in g["redirect_chain"]
        ]
        assert chain == p["redirect_chain"], p["url"]


def test_link_graph(both):
    oracle, engine = both
    cols = ["source_url", "target_url", "anchor_text", "is_internal",
            "target_domain", "placement", "nofollow", "scope", "target_status"]
    got = {(r["source_url"], r["target_url"]): r.asDict()
           for r in engine.links.select(*cols).collect()}
    want = {(l["source_url"], l["target_url"]): l for l in oracle["links"]}
    assert set(got) == set(want)
    for k, w in want.items():
        for c in cols:
            assert got[k][c] == w[c], f"link {k} field {c}"


def test_linked_from(both):
    oracle, engine = both
    got = {r["url"]: set(r["linked_from"])
           for r in engine.pages.select("url", "linked_from").collect()}
    for p in oracle["pages"]:
        assert got[p["url"]] == set(p["linked_from"]), p["url"]


def test_stats(both):
    oracle, engine = both
    assert engine.stats["crawled"] == oracle["stats"]["crawled"]
    assert engine.stats["discovered"] == oracle["stats"]["discovered"]


class TestBudget:
    def test_max_urls_exact_cut(self, spark):
        cfg = CrawlConfig(max_depth=3, max_urls=9, discover_sitemaps=False)
        oracle, engine = run_both(spark, SMALL, cfg)
        assert engine.stats["crawled"] == 9
        got = [(r["url"], r["depth"]) for r in
               engine.pages.orderBy("wave", "seq").select("url", "depth").collect()]
        assert got == oracle["fetch_order"]


class TestTraps:
    def test_trap_equivalence(self, spark):
        site_cfg = SiteGenConfig(seed=11, n_hosts=3, pages_base_host=15,
                                 pages_other_host=4, trap_pages=40)
        cfg = CrawlConfig(max_depth=6, max_urls=300, trap_threshold=10,
                          discover_sitemaps=False)
        oracle, engine = run_both(spark, site_cfg, cfg)
        got = {(r["pattern"], r["example_url"], r["count"])
               for r in engine.traps.collect()}
        want = {(t["pattern"], t["example_url"], t["count"]) for t in oracle["traps"]}
        assert got == want
        got_seen = {(r["url"], r["seq"]) for r in engine.seen.select("url", "seq").collect()}
        want_seen = {(u, i) for i, (u, _) in enumerate(oracle["seen"])}
        assert got_seen == want_seen


class TestExternalMode:
    def test_crawl_external(self, spark):
        cfg = CrawlConfig(max_depth=2, max_urls=60, crawl_external=True,
                          discover_sitemaps=False)
        oracle, engine = run_both(spark, SMALL, cfg)
        got = [(r["url"], r["depth"]) for r in
               engine.pages.orderBy("wave", "seq").select("url", "depth").collect()]
        assert got == oracle["fetch_order"]
        hosts = {u.split("/")[2] for u, _ in got}
        assert len(hosts) > 1


def test_politeness_keeps_reference_fetch_order(spark):
    """A politeness cut ends the wave before the first over-quota row,
    so waves stay contiguous seq ranges and the fetch order, seen seqs
    and page count equal the reference's blocking token bucket at
    concurrency 1 (site1.example has crawl-delay 2)."""
    cfg = CrawlConfig(max_depth=3, max_urls=60, discover_sitemaps=False,
                      crawl_external=True, wave_seconds=2.0)
    oracle, engine = run_both(spark, SMALL, cfg, politeness=True)
    got = [(r["url"], r["depth"]) for r in
           engine.pages.orderBy("wave", "seq").select("url", "depth").collect()]
    assert got == oracle["fetch_order"]
    got_seen = {(r["url"], r["seq"], r["depth"]) for r in engine.seen.collect()}
    assert got_seen == {(u, i, d) for i, (u, d) in enumerate(oracle["seen"])}
    assert engine.stats["crawled"] == oracle["stats"]["crawled"] == len(got)


class TestSitemapBootstrap:
    def test_sitemap_seeded_crawl_matches_oracle(self, spark):
        cfg = CrawlConfig(max_depth=2, max_urls=60, discover_sitemaps=True)
        oracle, engine = run_both(spark, SMALL, cfg)
        got_seen = {(r["url"], r["seq"]) for r in engine.seen.select("url", "seq").collect()}
        want_seen = {(u, i) for i, (u, _) in enumerate(oracle["seen"])}
        assert got_seen == want_seen
        got = [(r["url"], r["depth"]) for r in
               engine.pages.orderBy("wave", "seq").select("url", "depth").collect()]
        assert got == oracle["fetch_order"]
        # sitemap actually contributed URLs beyond the seed at depth 0
        depth0 = [u for u, d in oracle["seen"] if d == 0]
        assert len(depth0) > 1

    def test_sitemap_index_recursion_matches_oracle(self, spark):
        """S6: a 2-deep sitemapindex bootstrap (root index -> chunk-a +
        nested index -> chunk-b) yields the same seed order as the
        oracle's depth-first recursion — and the same as a flat urlset
        over the same pages (the fixture preserves order)."""
        cfg = CrawlConfig(max_depth=2, max_urls=60, discover_sitemaps=True)
        site_cfg = SiteGenConfig(seed=42, n_hosts=4, pages_base_host=18,
                                 pages_other_host=5, sitemap_index=True)
        site = generate_site(site_cfg)
        assert len(site.sitemap_bodies) == 3  # chunk-a, chunk-b, nested index
        seeds = [s["url"] for s in site.seeds]
        oracle = ReferenceCrawlOracle(
            site.documents, site.hosts, site.base_url, cfg,
            sitemap_bodies=site.sitemap_bodies,
        ).run(seeds)
        docs, hosts, _ = site_to_spark(spark, site)
        engine = CrawlEngine(
            spark, docs, hosts, site.base_url, cfg, seed_urls=seeds,
            sitemap_bodies=site.sitemap_bodies,
        ).run()
        got_seen = {(r["url"], r["seq"]) for r in engine.seen.select("url", "seq").collect()}
        want_seen = {(u, i) for i, (u, _) in enumerate(oracle["seen"])}
        assert got_seen == want_seen
        got = [(r["url"], r["depth"]) for r in
               engine.pages.orderBy("wave", "seq").select("url", "depth").collect()]
        assert got == oracle["fetch_order"]
        # flat and nested layouts bootstrap the same depth-0 set
        flat = ReferenceCrawlOracle(
            site.documents,
            generate_site(SiteGenConfig(seed=42, n_hosts=4, pages_base_host=18,
                                        pages_other_host=5)).hosts,
            site.base_url, cfg,
        ).run(seeds)
        assert [u for u, d in oracle["seen"] if d == 0] == \
               [u for u, d in flat["seen"] if d == 0]


def test_large_sitemap_bootstrap(spark):
    """A >10k-loc sitemap bootstraps to byte-identical seed ordering
    with an independent transcription of crawler.py:362-381 — dedup
    keep-first, policy (robots + scope + extension) applied per loc,
    document order, contiguous seq after the explicit seeds."""
    import urllib.robotparser

    from librecrawl_spark.config import CrawlConfig
    from librecrawl_spark.functions import urls as U
    from librecrawl_spark.plans.crawl import CrawlEngine

    n = 12_000
    locs = []
    for i in range(n):
        if i % 97 == 13:
            u = f"https://big.example/private/p{i}"      # robots-disallowed
        elif i % 61 == 7:
            u = f"https://other.example/x{i}"            # external -> dropped
        elif i % 53 == 11:
            u = f"https://big.example/img{i}.png"        # excluded extension
        elif i % 41 == 5:
            u = "https://big.example/dup"                # duplicates
        else:
            u = f"https://big.example/page/{i}"
        locs.append(u)
    body = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        + "".join(f"<url><loc>{u}</loc></url>" for u in locs)
        + "</urlset>"
    )
    robots = "User-agent: *\nDisallow: /private/"
    hosts = spark.createDataFrame(
        [("big.example", robots, 0.0, body)],
        schema="host string, robots_txt string, crawl_delay double, sitemap_xml string",
    )
    docs = spark.createDataFrame(
        [], schema="doc_id string, spans array<struct<kind:string,text:string,"
                   "media_ref:string,offset:int>>")
    cfg = CrawlConfig(discover_sitemaps=True)
    eng = CrawlEngine(spark, docs, hosts, "https://big.example", cfg,
                      seed_urls=["https://big.example/"])
    st = eng._fresh_state()
    got = [(r["url"], r["seq"]) for r in st["pending"].orderBy("seq").collect()]

    rp = urllib.robotparser.RobotFileParser()
    rp.parse(robots.splitlines())
    expected = ["https://big.example/"]
    seen = set(expected)
    c = eng.config
    for u in locs:
        if u in seen:
            continue
        if U.should_crawl(
            u, "big.example",
            crawl_external=c.crawl_external, crawl_subdomains=c.crawl_subdomains,
            include_extensions=tuple(c.include_extensions),
            exclude_extensions=tuple(c.exclude_extensions),
            include_patterns=tuple(c.include_patterns),
            exclude_patterns=tuple(c.exclude_patterns),
            robots_allows=(lambda x: rp.can_fetch(c.user_agent, x)),
        ):
            seen.add(u)
            expected.append(u)
    assert len(expected) > 10_000
    assert got == list(zip(expected, range(len(expected))))
    assert st["next_seq"] == len(expected)
