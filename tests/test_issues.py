"""Issue-detection tests: per-page checks against expected fixtures and
the J7 duplicate-content join against a direct O(n^2) transcription of
the reference algorithm (issue_detector.py:1299-1431)."""

from difflib import SequenceMatcher

import pytest
from pyspark.sql import functions as F

from librecrawl_spark.operators import issues as I


@pytest.fixture(scope="module")
def pages(spark):
    from librecrawl_spark.config import CrawlConfig
    from librecrawl_spark.fixtures.sitegen import SiteGenConfig, generate_site, site_to_spark
    from librecrawl_spark.plans.crawl import CrawlEngine

    site = generate_site(SiteGenConfig(seed=42, n_hosts=4, pages_base_host=18, pages_other_host=5))
    docs, hosts, _ = site_to_spark(spark, site)
    res = CrawlEngine(spark, docs, hosts, site.base_url,
                      CrawlConfig(max_depth=3, max_urls=100, discover_sitemaps=False),
                      seed_urls=[s["url"] for s in site.seeds]).run()
    return res.pages.persist(), res.links.persist()


def test_per_page_issue_shapes(pages):
    pg, _ = pages
    iss = I.per_page_issues(pg)
    rows = iss.collect()
    assert rows, "fixture pathologies must produce issues"
    assert set(iss.columns) == {"url", "type", "category", "issue", "details"}
    assert {r["type"] for r in rows} <= {"error", "warning", "info"}
    names = {r["issue"] for r in rows}
    # pathologies the crawl reliably reaches in this fixture; the lone
    # reachable 429 page recovers after 2 retry attempts now, so no 4xx
    # status remains (status-code checks are covered by the unit rows
    # below and the i_issue_predicates driver oracle)
    for expected in ("Missing Title Tag", "Thin Content"):
        assert any(expected in n for n in names), f"missing {expected} in {names}"
    recovered = pg.filter("retry_count > 0").collect()
    assert recovered and all(r["status_code"] == 200 for r in recovered)


def test_per_page_issue_unit_rows(spark):
    """Targeted unit rows for checks the crawl fixture may not reach:
    missing description, noindex/nofollow, viewport, soft-404."""
    from librecrawl_spark.operators.extract import PAGE_SCHEMA
    from pyspark.sql import Row
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(PAGE_SCHEMA)
    schema = StructType([f for f in schema.fields if f.name not in ("links", "candidates")])
    base = {f.name: None for f in schema.fields}
    base.update(url="https://x.example/some-page", depth=0, seq=0, wave=0,
                status_code=200, content_type="text/html", size=9000,
                is_internal=True, error=None, redirect_count=0, redirects=[],
                redirect_chain=[], title="A fine title of reasonable length here",
                meta_description="", h1="Welcome", h1_list=["Welcome"],
                headings_structure=[], h2=[], h3=[], word_count=500,
                canonical_url="https://x.example/some-page", robots="",
                viewport="width=device-width", images=[], internal_links=1,
                external_links=0, hreflang=[], json_ld_count=0)
    rows = [
        dict(base),  # clean page: only what the defaults trigger
        dict(base, url="https://x.example/p2", robots="noindex, nofollow"),
        dict(base, url="https://x.example/p3", viewport=""),
        dict(base, url="https://x.example/p4", title="404 Page Not Found",
             h1="page not found"),
    ]
    df = spark.createDataFrame([Row(**r) for r in rows], schema)
    iss = I.per_page_issues(df)
    by_url = {}
    for r in iss.collect():
        by_url.setdefault(r["url"], set()).add(r["issue"])
    assert "Meta Description: Missing" in by_url["https://x.example/some-page"]
    assert "Directives: Noindex" in by_url["https://x.example/p2"]
    assert "Directives: Nofollow" in by_url["https://x.example/p2"]
    assert "Missing Viewport Meta Tag" in by_url["https://x.example/p3"]
    assert "Soft 404: Returns 200 but appears broken" in by_url["https://x.example/p4"]
    # soft-404 with both title+h1 signals is an error (issue_detector.py:459-462)
    types = {(r["issue"], r["type"]) for r in iss.filter("url = 'https://x.example/p4'").collect()}
    assert ("Soft 404: Returns 200 but appears broken", "error") in types


def test_per_page_issues_match_manual(pages):
    """Spot-check exact per-row agreement with a transcription for the
    title checks (issue_detector.py:88-151): every LIVE result with an
    empty title gets the row — no content-type gating (the reference
    runs detect_issues on every crawl result, crawler.py:813)."""
    pg, _ = pages
    rows = pg.select("url", "title", "status_code").collect()
    iss = I.per_page_issues(pg)
    got_missing = {r["url"] for r in iss.filter(F.col("issue").startswith("Missing Title Tag")).collect()}
    want_missing = {
        r["url"] for r in rows
        if (r["status_code"] or 0) != 0 and not (r["title"] or "")
    }
    assert got_missing == want_missing


def _oracle_replay(pg_rows, link_rows, exclusion_patterns=(),
                   sitemap_urls=None, threshold=0.85):
    """Replay the reference pipeline over collected rows in fetch order:
    detect_issues per result (crawler.py:813), then the whole-crawl
    detectors (main.py's issue aggregation)."""
    from librecrawl_spark.oracle.refissues import RefIssueDetector

    det = RefIssueDetector(exclusion_patterns)
    for r in pg_rows:
        det.detect_issues(r)
    if sitemap_urls is not None:
        det.detect_sitemap_issues(sitemap_urls, pg_rows)
    det.detect_links_to_redirects(pg_rows, link_rows)
    det.detect_broken_link_sources(pg_rows, link_rows)
    det.detect_hreflang_issues(pg_rows)
    det.detect_duplication_issues(pg_rows, threshold)
    return det


def _issue_key(i):
    return (i["url"], i["type"], i["category"], i["issue"], i["details"])


def test_engine_matches_reference_oracle(pages):
    """THE issue-engine parity gate: detect_all_issues must equal the
    pure-Python reference transcription (oracle/refissues.py) as a
    MULTISET of (url, type, category, issue, details) rows over the
    crawl fixture — every label, severity and details string."""
    from collections import Counter

    pg, links = pages
    pg_rows = [r.asDict(recursive=True) for r in pg.orderBy("wave", "seq").collect()]
    link_rows = [r.asDict() for r in
                 links.orderBy("src_wave", "src_seq", "pos").collect()]
    det = _oracle_replay(pg_rows, link_rows)
    want = Counter(_issue_key(i) for i in det.get_issues())
    got = Counter(_issue_key(r.asDict())
                  for r in I.detect_all_issues(pg, links).collect())
    missing = want - got
    extra = got - want
    assert not missing and not extra, (
        f"missing {len(missing)}: {list(missing)[:5]}\n"
        f"extra {len(extra)}: {list(extra)[:5]}")
    # the fixture must reach a meaningful breadth of families
    cats = {k[2] for k in got}
    assert {"SEO", "Technical", "Links", "Security"} <= cats


def test_engine_matches_reference_oracle_with_exclusions(pages):
    """Same gate with detect-time exclusion patterns: site-wide rows
    must re-attribute to the first NON-excluded page exactly like the
    reference's _should_exclude early return."""
    from collections import Counter

    pg, links = pages
    pats = ("/page/*",)
    pg_rows = [r.asDict(recursive=True) for r in pg.orderBy("wave", "seq").collect()]
    link_rows = [r.asDict() for r in
                 links.orderBy("src_wave", "src_seq", "pos").collect()]
    det = _oracle_replay(pg_rows, link_rows, exclusion_patterns=pats)
    # read-time re-filter (main.py:409-441) over the whole list
    kept = [i for i in det.get_issues()
            if not det._should_exclude(i["url"])]
    want = Counter(_issue_key(i) for i in kept)
    got = Counter(_issue_key(r.asDict())
                  for r in I.detect_all_issues(pg, links,
                                               exclusion_patterns=pats).collect())
    assert got == want


def test_sitemap_issue_rows_match_oracle(spark, pages):
    """Sitemap: Broken/Redirecting/Noindexed/Non-Canonical rows + health
    tallies vs detect_sitemap_issues (issue_detector.py:1492-1626)."""
    from collections import Counter

    pg, _ = pages
    pg_rows = [r.asDict(recursive=True) for r in pg.orderBy("wave", "seq").collect()]
    # sitemap list: every crawled URL plus variants exercising each class
    sm_urls = [r["url"] for r in pg_rows]
    sm_urls += ["https://site0.example/never-crawled-1",
                "https://site0.example/never-crawled-2"]
    from librecrawl_spark.oracle.refissues import RefIssueDetector

    det = RefIssueDetector()
    summary = det.detect_sitemap_issues(sm_urls, pg_rows)
    want = Counter(_issue_key(i) for i in summary["issues"])
    sm = spark.createDataFrame([(u,) for u in sm_urls], "url string")
    got = Counter(_issue_key(r.asDict())
                  for r in I.sitemap_issue_rows(sm, pg).collect())
    assert got == want
    h = I.sitemap_health(sm, pg).collect()[0].asDict()
    # engine health counts sitemap URLs after DISTINCT on normalized key;
    # the oracle counts the raw list — this fixture has no normalized
    # duplicates, so the tallies must agree key-for-key
    for k in ("total", "valid", "errors", "redirects", "noindex",
              "non_canonical", "not_crawled"):
        assert h[k] == summary[k], (k, h, summary)


def test_broken_link_sources(pages):
    pg, links = pages
    out = {r["url"]: r for r in I.broken_link_sources(pg, links).collect()}
    broken = {r["url"] for r in pg.filter("status_code >= 400 or status_code = 0").collect()}
    linked_broken = {
        r["target_url"] for r in links.join(
            pg.filter("status_code >= 400 or status_code = 0").select(F.col("url").alias("target_url")),
            "target_url").collect()
    }
    assert set(out) == linked_broken
    assert linked_broken <= broken


def test_links_to_redirects(pages):
    pg, links = pages
    out = I.links_to_redirects(pg, links).collect()
    redirecting = {r["url"] for r in pg.filter("status_code >= 300 and status_code < 400").collect()}
    for r in out:
        assert r["n_links_to_redirects"] > 0
        assert set(r["redirect_targets"]) <= redirecting


def test_duplicate_content_matches_reference_transcription(pages):
    pg, _ = pages
    threshold = 0.85
    got = {
        (r["url_a"], r["url_b"]): r["similarity"]
        for r in I.duplicate_content_pairs(pg, threshold).collect()
    }
    # direct O(n^2) transcription (issue_detector.py:1299-1431)
    rows = pg.select("url", "title", "meta_description", "h1", "word_count").collect()
    data = [
        {
            "url": r["url"],
            "title": (r["title"] or "").lower().strip(),
            "desc": (r["meta_description"] or "").lower().strip(),
            "h1": (r["h1"] or "").lower().strip(),
            "wc": r["word_count"] or 0,
        }
        for r in rows
    ]
    w = {"title": 0.35, "desc": 0.35, "h1": 0.20, "word_count": 0.10}
    want = {}
    for i in range(len(data)):
        for j in range(i + 1, len(data)):
            a, b = data[i], data[j]
            wc_sim = (min(a["wc"], b["wc"]) / max(a["wc"], b["wc"])) if (a["wc"] and b["wc"]) else 0
            t_sim = SequenceMatcher(None, a["title"], b["title"]).ratio() if a["title"] and b["title"] else 0
            d_sim = SequenceMatcher(None, a["desc"], b["desc"]).ratio() if a["desc"] and b["desc"] else 0
            h_sim = SequenceMatcher(None, a["h1"], b["h1"]).ratio() if a["h1"] and b["h1"] else 0
            score = (t_sim * w["title"] + d_sim * w["desc"] + h_sim * w["h1"]
                     + wc_sim * w["word_count"])
            if score >= threshold:
                key = (min(a["url"], b["url"]), max(a["url"], b["url"]))
                want[key] = round(score, 6)
    assert got == want


def test_duplicate_scores_follow_fetch_order(spark):
    """SequenceMatcher.ratio() is not symmetric: the reference scores
    each pair as (earlier-fetched page, later page). Here the later page
    has the smaller URL and the title pair scores 0.909 one way and
    0.727 the other, so only fetch-order orientation reproduces the
    reference's similarity percentage."""
    from librecrawl_spark.oracle.refissues import RefIssueDetector

    rows = [  # fetch order
        ("https://d.example/z", 0, 0, "bcabcbbccbb"),
        ("https://d.example/a", 0, 1, "bcabccbbcbb"),
    ]
    assert (SequenceMatcher(None, rows[0][3], rows[1][3]).ratio()
            != SequenceMatcher(None, rows[1][3], rows[0][3]).ratio())
    pg = spark.createDataFrame(
        [(u, w, q, t, "same description", "same heading", 300)
         for u, w, q, t in rows],
        "url string, wave int, seq long, title string, meta_description string, "
        "h1 string, word_count int")
    det = RefIssueDetector()
    det.detect_duplication_issues(
        [dict(zip(("url", "wave", "seq", "title"), r),
              meta_description="same description", h1="same heading",
              word_count=300) for r in rows])
    want = sorted(_issue_key(i) for i in det.get_issues())
    got = sorted(_issue_key(r.asDict()) for r in
                 I.duplicate_content_issues(pg, blocking="exact").collect())
    assert len(want) == 2 and got == want


def test_hreflang_reciprocity(pages):
    pg, _ = pages
    out = I.hreflang_reciprocity(pg).collect()
    # fixture plants hreflang pairs without return links
    edges = {
        (r["url"], h["url"])
        for r in pg.select("url", "hreflang").collect()
        for h in (r["hreflang"] or [])
        if h["url"] != r["url"]
    }
    for r in out:
        assert (r["url"], r["hreflang_target"]) in edges
        assert (r["hreflang_target"], r["url"]) not in edges


def test_sitemap_health(spark, pages):
    pg, _ = pages
    sm = spark.createDataFrame(
        [("https://site0.example/",), ("https://site0.example/page/3",),
         ("https://site0.example/never-crawled",)], "url string")
    h = I.sitemap_health(sm, pg).collect()[0]
    assert h["total"] == 3
    assert h["not_crawled"] >= 1


def test_issue_exclusion_patterns(spark, pages):
    pg, _ = pages
    iss = I.per_page_issues(pg).persist()
    total = iss.count()
    kept = I.apply_issue_exclusions(iss, ("/page/*",)).count()
    excluded_urls = {r["url"] for r in iss.collect()} - {
        r["url"] for r in I.apply_issue_exclusions(iss, ("/page/*",)).collect()}
    assert kept < total
    assert all("/page/" in u for u in excluded_urls)
    # no patterns => identity
    assert I.apply_issue_exclusions(iss, ()).count() == total


def test_hreflang_invalid_codes(spark):
    from librecrawl_spark.operators.extract import PAGE_SCHEMA
    from pyspark.sql import Row
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(PAGE_SCHEMA)
    schema = StructType([f for f in schema.fields if f.name in ("url", "hreflang")])
    df = spark.createDataFrame(
        [Row(url="https://x/1", hreflang=[{"lang": "en-US", "url": "https://x/2"},
                                          {"lang": "zz", "url": "https://x/3"},
                                          {"lang": "x-default", "url": "https://x/4"},
                                          {"lang": "english", "url": "https://x/5"}])],
        schema)
    out = {(r["lang"]) for r in I.hreflang_invalid_codes(df).collect()}
    assert out == {"zz", "english"}


def test_xml_export(spark, pages, tmp_path):
    from librecrawl_spark.sources.exports import write_pages_xml
    import xml.etree.ElementTree as ET

    pg, _ = pages
    p = str(tmp_path / "pages.xml")
    write_pages_xml(pg, p)
    root = ET.parse(p).getroot()
    entries = list(root)
    assert len(entries) == pg.count()
    assert entries[0].find("url") is not None


# --- round-3 families: Social / URL / Performance / Links / Security -------

_NEW_FAMILY_ISSUES = (
    "Missing OpenGraph Tags", "Missing Twitter Card Tags",
    "URL: Over 115 Characters", "URL: Underscores", "URL: Parameters",
    "URL: Repetitive Path", "Slow Response Time", "Large Page Size",
    "Links: Pages With High External Outlinks",
    "Links: Internal Nofollow Outlinks",
    "Links: Internal Outlinks With No Anchor Text",
    "Links: Non-Descriptive Anchor Text",
    "Security: Mixed Content", "Security: Protocol-Relative Resource Links",
)


def test_new_families_match_transcription(pages):
    """Per-page Social/URL/Performance/Links/Security checks vs a direct
    Python transcription of issue_detector.py:653-674, 1037-1151,
    1250-1298 over the same page rows."""
    from urllib.parse import urlparse

    pg, _ = pages
    rows = pg.select(
        "url", "status_code", "og_tags", "twitter_tags", "size",
        "response_time", "external_links", "links_data", "images",
    ).collect()
    generic = ("click here", "read more", "more", "here", "link", "this", "go")
    expected = set()
    for r in rows:
        if r["status_code"] == 0:
            continue
        url = r["url"]
        if not dict(r["og_tags"] or {}):
            expected.add((url, "Missing OpenGraph Tags"))
        if not dict(r["twitter_tags"] or {}):
            expected.add((url, "Missing Twitter Card Tags"))
        path = urlparse(url).path
        if len(url) > 115:
            expected.add((url, "URL: Over 115 Characters"))
        if "_" in path:
            expected.add((url, "URL: Underscores"))
        if "?" in url:
            expected.add((url, "URL: Parameters"))
        parts = [p for p in path.split("/") if p]
        if len(parts) != len(set(parts)):
            expected.add((url, "URL: Repetitive Path"))
        if (r["response_time"] or 0) > 3000:
            expected.add((url, "Slow Response Time"))
        if (r["size"] or 0) > 3 * 1024 * 1024:
            expected.add((url, "Large Page Size"))
        if (r["external_links"] or 0) > 50:
            expected.add((url, "Links: Pages With High External Outlinks"))
        ld = [l.asDict() for l in (r["links_data"] or [])]
        if any(l["is_internal"] and "nofollow" in list(l["rel"]) for l in ld):
            expected.add((url, "Links: Internal Nofollow Outlinks"))
        if any(l["text"].lower().strip() == "" for l in ld):
            expected.add((url, "Links: Internal Outlinks With No Anchor Text"))
        if any(l["is_internal"] and l["text"].lower().strip() in generic for l in ld):
            expected.add((url, "Links: Non-Descriptive Anchor Text"))
        if url.startswith("https://"):
            imgs = [i.asDict() for i in (r["images"] or [])]
            if any(i["src"].startswith("http://") for i in imgs):
                expected.add((url, "Security: Mixed Content"))
            if any(i["src"].startswith("//") for i in imgs) \
                    or any(l["href"].startswith("//") for l in ld):
                expected.add((url, "Security: Protocol-Relative Resource Links"))
    got = {
        (r["url"], r["issue"])
        for r in I.per_page_issues(pg).collect()
        if r["issue"] in _NEW_FAMILY_ISSUES
    }
    assert got == expected
    # the fixture must actually reach the families
    fired = {i for _, i in got}
    for must in ("Missing OpenGraph Tags", "URL: Parameters",
                 "Security: Mixed Content",
                 "Links: Internal Outlinks With No Anchor Text"):
        assert must in fired, f"fixture never fires {must}"


def test_sitewide_security_match_transcription(pages):
    """security_header_issues + unsafe_cross_origin_issues vs the
    reference's sequential reported_sitewide_issues loop
    (issue_detector.py:1153-1247) replayed in fetch order."""
    from urllib.parse import urlparse

    pg, _ = pages
    rows = pg.orderBy("wave", "seq").collect()
    reported, expected = set(), set()
    for r in rows:
        if r["status_code"] == 0:
            continue
        url = r["url"]
        hdrs = dict(r["response_headers"] or {})
        p = urlparse(url)
        for hdr_name, key, issue in (
            ("content-security-policy", "missing_csp",
             "Security: Missing Content-Security-Policy"),
            ("strict-transport-security", "missing_hsts",
             "Security: Missing HSTS Header"),
            ("x-frame-options", "missing_xfo",
             "Security: Missing X-Frame-Options"),
        ):
            if key == "missing_hsts" and not url.startswith("https://"):
                continue
            if hdr_name not in hdrs and (p.netloc, key) not in reported:
                reported.add((p.netloc, key))
                expected.add((f"{p.scheme}://{p.netloc}", issue))
        for l in (r["links_data"] or []):
            if l["target"] == "_blank" and not l["is_internal"] \
                    and "noopener" not in list(l["rel"]) \
                    and "noreferrer" not in list(l["rel"]):
                d = urlparse(l["href"]).netloc
                if d and (d, "unsafe_cross_origin") not in reported:
                    reported.add((d, "unsafe_cross_origin"))
                    expected.add((url, "Security: Unsafe Cross-Origin Links"))
    got = {
        (r["url"], r["issue"])
        for r in I.security_header_issues(pg)
        .unionByName(I.unsafe_cross_origin_issues(pg)).collect()
    }
    assert got == expected
    # crawl_external=False keeps the crawl on site0 (which sends all
    # three headers), so the missing-header rows are exercised by the
    # unit test below; this fixture reliably reaches unsafe _blank links
    assert any(i == "Security: Unsafe Cross-Origin Links" for _, i in got)


def test_security_header_issues_unit(spark):
    """Missing CSP/HSTS/XFO site-wide rows: once per domain, attributed
    scheme://domain, HSTS only on https, status-0 pages ignored."""
    rows = [
        # d1: missing all three, two pages (dedup to one row per check)
        ("https://d1.example/a", 0, 1, 200, {}),
        ("https://d1.example/b", 0, 2, 200, {}),
        # d2: has all three
        ("https://d2.example/a", 0, 3, 200,
         {"content-security-policy": "x", "strict-transport-security": "x",
          "x-frame-options": "x"}),
        # d3: http page — HSTS check skipped, CSP/XFO still fire
        ("http://d3.example/a", 0, 4, 200, {}),
        # d4: only dead page — no rows at all
        ("https://d4.example/a", 0, 5, 0, {}),
    ]
    pg = spark.createDataFrame(
        rows, "url string, wave int, seq long, status_code int, "
              "response_headers map<string,string>")
    got = {(r["url"], r["issue"]) for r in I.security_header_issues(pg).collect()}
    assert got == {
        ("https://d1.example", "Security: Missing Content-Security-Policy"),
        ("https://d1.example", "Security: Missing HSTS Header"),
        ("https://d1.example", "Security: Missing X-Frame-Options"),
        ("http://d3.example", "Security: Missing Content-Security-Policy"),
        ("http://d3.example", "Security: Missing X-Frame-Options"),
    }


def test_detect_all_issues_union(pages):
    """detect_all_issues = union of its parts, exclusions applied."""
    pg, links = pages
    allr = I.detect_all_issues(pg, links).collect()
    assert {r["type"] for r in allr} <= {"error", "warning", "info"}
    cats = {r["category"] for r in allr}
    assert "SEO" in cats and "Security" in cats
    n_pp = I.per_page_issues(pg).count()
    assert len(allr) >= n_pp
    # exclusion patterns match the URL PATH (fnmatch semantics,
    # issue_detector.py:1457-1469)
    kept = I.detect_all_issues(pg, links, exclusion_patterns=("*/page/*",))
    assert kept.filter(F.col("url").contains("/page/")).count() == 0
    assert kept.count() < len(allr)


def test_crawl_result_issue_surface(spark):
    """CrawlResult.issues() is the one-call full report (reference
    /api/crawl_status, main.py:968-1003): includes the Sitemap category
    when the crawl discovered a sitemap, and equals the oracle replay
    fed the same unique sitemap URL list (crawler.py:601-603)."""
    from collections import Counter

    from librecrawl_spark.config import CrawlConfig
    from librecrawl_spark.fixtures.sitegen import SiteGenConfig, generate_site, site_to_spark
    from librecrawl_spark.plans.crawl import CrawlEngine

    site = generate_site(SiteGenConfig(seed=7, n_hosts=3, pages_base_host=12,
                                       pages_other_host=4))
    docs, hosts, _ = site_to_spark(spark, site)
    res = CrawlEngine(spark, docs, hosts, site.base_url,
                      CrawlConfig(max_depth=3, max_urls=60,
                                  discover_sitemaps=True),
                      seed_urls=[s["url"] for s in site.seeds]).run()
    assert res.sitemap_urls is not None
    sm_urls = sorted(r["url"] for r in res.sitemap_urls.collect())
    pg_rows = [r.asDict(recursive=True)
               for r in res.pages.orderBy("wave", "seq").collect()]
    link_rows = [r.asDict()
                 for r in res.links.orderBy("src_wave", "src_seq", "pos").collect()]
    det = _oracle_replay(pg_rows, link_rows, sitemap_urls=sm_urls)
    want = Counter(_issue_key(i) for i in det.get_issues())
    got = Counter(_issue_key(r.asDict()) for r in res.issues().collect())
    assert got == want
    health = res.sitemap_health().collect()[0].asDict()
    summary = __import__("librecrawl_spark.oracle.refissues",
                         fromlist=["RefIssueDetector"]).RefIssueDetector(
                         ).detect_sitemap_issues(sm_urls, pg_rows)
    for k in ("total", "valid", "errors", "redirects", "noindex",
              "non_canonical", "not_crawled"):
        assert health[k] == summary[k], (k, health, summary)


def test_dup_approx_minhash_scale_path(pages):
    """The opt-in MinHash-banded blocking (10^7+ page scale path) is a
    strict subset of the exact path's verified pairs (the verify stage
    is identical) and keeps every pair on this fixture — its titles sit
    at shingle-Jaccard >= 0.8 where band recall is ~98.6% and the
    md5-based minhash is deterministic."""
    pg, _ = pages
    exact = {(r["url_a"], r["url_b"])
             for r in I.duplicate_content_pairs(pg).collect()}
    approx = {(r["url_a"], r["url_b"])
              for r in I.duplicate_content_pairs(pg, approx_minhash=True).collect()}
    assert approx <= exact
    if approx != exact:
        # diagnostic dump: exact titles + band hashes of every page in a
        # dropped pair, so a failure names WHICH input changed
        urls = sorted({u for p in exact - approx for u in p})
        sh = F.expr("transform(sequence(1, greatest(length(t) - 2, 1)),"
                    " i -> substr(t, i, 3))")
        mk = lambda pref: (lambda s: F.md5(F.concat(F.lit(pref), s)))  # noqa: E731
        sigs = [F.array_min(F.transform(sh, mk(f"{p}:"))) for p in range(8)]
        bands = [F.md5(F.concat(sigs[2 * k], sigs[2 * k + 1])) for k in range(4)]
        rows = (pg.select("url", F.lower(F.trim(F.coalesce(
                    "title", F.lit("")))).alias("t"))
                .filter(F.col("url").isin(urls))
                .withColumn("mh", F.array(*bands)).orderBy("url").collect())
        for r in rows:
            print(f"DROPPED {r['url']} t={r['t']!r} "
                  f"mh={[v[:8] for v in r['mh']]}")
    assert approx == exact, f"minhash band dropped {exact - approx}"


def test_dup_blocking_auto_routes_by_page_count(pages, monkeypatch, caplog):
    """blocking='auto' (the detect_all_issues default): below
    AUTO_MINHASH_MIN_PAGES it is byte-identical to the exact path; with
    the threshold patched below the fixture size it engages the MinHash
    OR-band conjunct (plan-asserted via the band-key join condition) and
    on this fixture still finds every pair."""
    pg, _ = pages
    exact = {(r["url"], r["details"])
             for r in I.duplicate_content_issues(pg, blocking="exact").collect()}
    auto = {(r["url"], r["details"])
            for r in I.duplicate_content_issues(pg, blocking="auto").collect()}
    assert auto == exact  # fixture is far below the auto threshold

    monkeypatch.setattr(I, "AUTO_MINHASH_MIN_PAGES", 1)
    routed = I.duplicate_content_pairs(pg, approx_minhash=True)
    plan = routed._jdf.queryExecution().optimizedPlan().toString()
    assert "mh_val" in plan  # the band-key equi-conjunct is in the join
    import logging
    with caplog.at_level(logging.WARNING, logger=I.__name__):
        auto_hi = {(r["url"], r["details"])
                   for r in I.duplicate_content_issues(pg, blocking="auto").collect()}
    assert any("MinHash OR-band" in r.message for r in caplog.records)
    assert auto_hi <= exact
    assert auto_hi == exact  # >=0.8 title-Jaccard fixture: full recall

    import pytest as _pytest
    with _pytest.raises(ValueError):
        I.duplicate_content_issues(pg, blocking="nope")
