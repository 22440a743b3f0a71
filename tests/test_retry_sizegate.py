"""S1/C14 retry+backoff and S2 max_file_size equivalence.

The site is sized so both 429 outcomes occur (pi%17==13: pi=13 recovers
after 2 attempts, pi=30 stays 429 past the retry budget), and sizes
500..4500 straddle the max_file_size gate.
"""

import math

import pytest

from librecrawl_spark.config import CrawlConfig
from librecrawl_spark.fixtures.sitegen import SiteGenConfig, generate_site, site_to_spark
from librecrawl_spark.oracle.refcrawl import ReferenceCrawlOracle
from librecrawl_spark.plans.crawl import CrawlEngine

SITE = SiteGenConfig(seed=77, n_hosts=2, pages_base_host=34, pages_other_host=4)


def run_both(spark, cfg, **engine_kw):
    site = generate_site(SITE)
    seeds = [s["url"] for s in site.seeds]
    oracle = ReferenceCrawlOracle(site.documents, site.hosts, site.base_url, cfg).run(seeds)
    docs, hosts, _ = site_to_spark(spark, site)
    engine = CrawlEngine(spark, docs, hosts, site.base_url, cfg,
                         seed_urls=seeds, **engine_kw).run()
    return oracle, engine


CFG = CrawlConfig(max_depth=4, max_urls=80, discover_sitemaps=False)


@pytest.fixture(scope="module")
def inline(spark):
    return run_both(spark, CFG)


def test_fixture_has_both_429_outcomes(inline):
    oracle, _ = inline
    outcomes = {(p["status_code"], p["retry_count"]) for p in oracle["pages"]
                if p["retry_count"] > 0 or p["status_code"] == 429}
    # a recovered 429 (status 200, 2 attempts) and an exhausted one
    assert (200, 2) in outcomes, outcomes
    assert (429, CFG.retries) in outcomes, outcomes


def test_inline_retry_fields_match_oracle(inline):
    oracle, engine = inline
    got = {r["url"]: (r["status_code"], r["retry_count"], r["backoff_total"])
           for r in engine.pages.collect()}
    for p in oracle["pages"]:
        g = got[p["url"]]
        assert g[0] == p["status_code"], p["url"]
        assert g[1] == p["retry_count"], p["url"]
        assert math.isclose(g[2], p["backoff_total"], abs_tol=1e-9), p["url"]


def test_backoff_honors_retry_after_cap(inline):
    """Fixture 429s carry Retry-After: 3 -> each wait is exactly 3s."""
    oracle, _ = inline
    for p in oracle["pages"]:
        if p["retry_count"] > 0:
            assert p["backoff_total"] == 3.0 * p["retry_count"]


def test_max_file_size_gate_matches_oracle(spark):
    cfg_sz = CrawlConfig(max_depth=4, max_urls=80, discover_sitemaps=False,
                         max_file_size=3000)
    oracle, engine = run_both(spark, cfg_sz)
    o_pages = {p["url"]: p for p in oracle["pages"]}
    gated = [p for p in o_pages.values() if (p["error"] or "").startswith("File too large")]
    assert gated, "fixture must produce oversize pages at max_file_size=3000"
    got = {r["url"]: r.asDict() for r in engine.pages.collect()}
    assert set(got) == set(o_pages)
    for url, p in o_pages.items():
        g = got[url]
        for c in ("status_code", "size", "error", "word_count", "title",
                  "internal_links", "external_links", "redirect_count",
                  "is_internal", "retry_count"):
            assert g[c] == p[c], f"{url} field {c}: engine={g[c]!r} oracle={p[c]!r}"
    # gated pages record the reference's create_empty_result shape
    for p in gated:
        g = got[p["url"]]
        assert g["status_code"] == 0 and g["size"] == 0
        assert g["error"].startswith("File too large: ")
    # and the gate must not leak links from gated pages
    o_link_keys = {(l["source_url"], l["target_url"]) for l in oracle["links"]}
    e_link_keys = {(r["source_url"], r["target_url"]) for r in engine.links.collect()}
    assert e_link_keys == o_link_keys
