"""The frontier's one policy path. ``policy_gate`` (the exact Arrow UDF)
must equal ``urls.should_crawl`` — the transcription of crawler.py:
1425-1492 — with urllib's ``RobotFileParser.can_fetch`` on every
URL/robots shape, and a wave must cost the same Spark jobs whatever its
URLs look like. Also: the robots rule extraction."""

import urllib.robotparser
from urllib.parse import urlparse

import pytest

from librecrawl_spark.config import CrawlConfig
from librecrawl_spark.functions import urls as U
from librecrawl_spark.operators.frontier import (
    compile_robots_rules, policy_gate, schedule_wave)

BASE = "site0.example"

ROBOTS = {
    "site0.example": "User-agent: *\nDisallow: /private/\nAllow: /private/ok\nCrawl-delay: 2",
    "sub.site0.example": "User-agent: *\nDisallow: /",
    "other.example": "User-agent: *\nDisallow: *",      # urllib quotes to %2A: matches nothing
    "www.site0.example": "User-agent: bot\nDisallow: /x\n\nUser-agent: *\nAllow: /",
    "weird.example": "User-agent: *\nDisallow: /café/",  # non-safe prefix
}

URLS = [
    "https://site0.example/",
    "https://site0.example/private/page",
    "https://site0.example/private/okthing",      # Allow wins (first match)
    "https://site0.example/PUBLIC/Page",
    "https://site0.example/file.PDF",
    "https://site0.example/archive.tar.gz",
    "https://site0.example/no-ext",
    "https://site0.example",                      # no path -> '/'
    "https://sub.site0.example/x",                # subdomain, disallow all
    "https://other.example/x",                    # external + dead '*' rule
    "https://www.site0.example/x",                # www-insensitive internal
    "https://site0.example/q?x=1&y=2",            # querystring
    "https://site0.example/p%20q",                # %-escape
    "https://site0.example/semi;colon",           # params char
    "https://weird.example/café/x",               # non-ASCII path and rule
    "https://missing.example/x",                  # no robots row -> allow
]


@pytest.mark.parametrize("cfg", [
    CrawlConfig(crawl_external=True, crawl_subdomains=True),
    CrawlConfig(crawl_external=False, crawl_subdomains=False),
    CrawlConfig(crawl_external=True, respect_robots=False),
    CrawlConfig(crawl_external=True, include_extensions=("html", "pdf")),
    CrawlConfig(crawl_external=True, include_patterns=(r"site0", r"weird"),
                exclude_patterns=(r"/private/ok", r"\?")),
], ids=["open", "closed", "norobots", "include-ext", "patterns"])
def test_policy_gate_matches_reference(spark, cfg):
    hosts = spark.createDataFrame(
        [(h, t) for h, t in ROBOTS.items()], "host string, robots_txt string"
    )
    # the URL alone, the way schedule_wave feeds it: policy_gate derives
    # host (the robots lookup key) and signature itself
    df = spark.createDataFrame([(u,) for u in URLS], "clean_url string")
    rows = policy_gate(df, hosts, BASE, cfg, keep=("signature",)).collect()
    got = {r["clean_url"]: r["policy_ok"] for r in rows}
    assert {r["clean_url"]: r["signature"] for r in rows} == {
        u: U.url_signature(u) for u in URLS}

    parsers = {}
    for h, txt in ROBOTS.items():
        rp = urllib.robotparser.RobotFileParser()
        rp.parse(txt.splitlines())
        parsers[h] = rp

    def robots_allows(u):
        rp = parsers.get(urlparse(u).netloc)
        return rp is None or rp.can_fetch(cfg.user_agent, u)

    assert len(got) == len(URLS)
    for u in URLS:
        want = U.should_crawl(
            u, BASE,
            crawl_external=cfg.crawl_external,
            crawl_subdomains=cfg.crawl_subdomains,
            include_extensions=tuple(cfg.include_extensions),
            exclude_extensions=tuple(cfg.exclude_extensions),
            include_patterns=tuple(cfg.include_patterns),
            exclude_patterns=tuple(cfg.exclude_patterns),
            robots_allows=robots_allows if cfg.respect_robots else None,
        )
        assert got[u] == want, (u, got[u], want)


def _wave_jobs(spark, group, urls):
    """Spark jobs one schedule_wave costs (plan, probe and the new
    frontier's materialization) for a wave whose one fetched page links
    to ``urls``."""
    cands = spark.createDataFrame(
        [(u, i, "", "", "https://site0.example/", 0, 1) for i, u in enumerate(urls)],
        "clean_url string, link_idx int, signature string, host string, "
        "src_url string, src_seq long, depth int",
    )
    seen = spark.createDataFrame([("https://site0.example/", 0, 0)],
                                 "url string, depth int, seq long")
    counts = spark.createDataFrame([], "signature string, cnt long")
    hosts = spark.createDataFrame([(BASE, ROBOTS[BASE])], "host string, robots_txt string")
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        new_frontier, _, _, handle = schedule_wave(
            cands, seen, counts, hosts, BASE, CrawlConfig(), 1,
            src_seq_bounds=(0, 0))
        got = sorted(r["url"] for r in new_frontier.collect())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    handle.unpersist()
    assert got == sorted(urls)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_quoted_urls_cost_no_extra_jobs(spark):
    plain = ["https://site0.example/a", "https://site0.example/b",
             "https://site0.example/c"]
    quoted = ["https://site0.example/a?q=1", "https://site0.example/b?id=2",
              "https://site0.example/c"]
    n_plain = _wave_jobs(spark, "policy-plain", plain)
    n_quoted = _wave_jobs(spark, "policy-quoted", quoted)
    # 2 jobs of slack for AQE's +-1 variation between two plans
    assert n_quoted <= n_plain + 2, (n_plain, n_quoted)


def test_rule_extraction_shapes(spark):
    hosts = spark.createDataFrame(
        [("a", ROBOTS["site0.example"]), ("b", None), ("c", "")],
        "host string, robots_txt string",
    )
    rows = {r["host"]: r for r in compile_robots_rules(hosts, "UA").collect()}
    a = rows["a"]
    assert [(x["prefix"], x["allow"]) for x in a["rules"]] == [
        ("/private/", False), ("/private/ok", True)]
    assert a["simple"] is True
    assert rows["b"]["rules"] is None and rows["b"]["allow_all"]
    assert rows["c"]["rules"] == []  # empty robots: no entries -> allow
