"""Issue detection — the engine analogue of
/root/reference/src/core/issue_detector.py (1981 LoC).

Input contract: ``pages`` is what ``CrawlEngine`` produces, the
extractor's ``PAGE_SCHEMA`` without ``links``/``candidates``, with fetch
order in ``(wave, seq)``; ``links`` is the engine's link table, the
``LINK_STRUCT`` columns plus collection order in ``(src_wave, src_seq,
pos)``. Every detector reads those columns as they are; none checks
whether a column exists.

Per-page checks compile to ONE select of `when`-expressions building an
array of issue structs, then a single explode — the whole per-page pass
is JVM-side whole-stage codegen, no Python. The features several checks
share (liveness, page type, title/description lengths, robots flags)
are projected once before it. The whole-crawl checks J3-J6 read one
shared frame, the last crawl result per normalized URL
(``_last_by_url``); built identically in each detector, its exchange
runs once in the report's single union query and is reused elsewhere.

Issue row shape matches the reference (issue_detector.py:116-121):
(url, type in {error,warning,info}, category, issue, details).

Every label and details string is transcribed verbatim from the
reference; the golden oracle is oracle/refissues.py (a pure-Python
transcription of the same file) and tests/test_issues.py asserts full
multiset equality between this engine and that oracle over the crawl
fixture.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# --- page-type classifier (issue_detector.py:933-1034, C11) ----------------

_ARCHIVE_SUBSTRINGS = (
    "/author/", "/tag/", "/category/", "/tags/", "/categories/", "/page/",
    "/feed/", "/search/", "/?s=", "/attachment/", "/archive/", "/archives/",
)
_IMPORTANT_SUBSTRINGS = (
    "/service", "/location", "-dentist", "/contact", "/about",
)
_UTILITY_SUBSTRINGS = (
    # issue_detector.py:99-107 (title check's utility overlay)
    "/thank-you", "/thankyou", "/confirmation", "/privacy-policy", "/privacy",
    "/terms", "/legal", "/cookie-policy", "/gdpr", "/dmca", "/login",
    "/register", "/signup", "/account", "/cart", "/checkout", "/wishlist",
    "/search", "/404", "/error",
)
_SOFT404_PHRASES = (
    # issue_detector.py:413-420
    "not found", "404", "page not found", "error 404", "page doesn't exist",
    "page does not exist", "no longer available", "has been removed",
    "could not be found", "cannot be found", "doesn't exist",
    "does not exist", "oops", "sorry", "nothing here",
)
_BOILERPLATE_H2 = (
    # issue_detector.py:321-326
    "leave a reply", "comments", "recent posts", "related posts",
    "share this post", "navigate", "navigation", "menu",
    "sidebar", "footer", "search", "overview", "description",
    "reviews", "categories", "archives", "tags", "meta",
)
_STATUS_MESSAGES = (
    # issue_detector.py:1473-1489
    (400, "Bad Request"), (401, "Unauthorized"), (403, "Forbidden"),
    (404, "Not Found"), (405, "Method Not Allowed"), (406, "Not Acceptable"),
    (408, "Request Timeout"), (410, "Gone"), (429, "Too Many Requests"),
    (500, "Internal Server Error"), (501, "Not Implemented"),
    (502, "Bad Gateway"), (503, "Service Unavailable"),
    (504, "Gateway Timeout"), (505, "HTTP Version Not Supported"),
)


def status_msg(status: Column) -> Column:
    """_get_status_code_message (issue_detector.py:1471-1490)."""
    out = F.concat(F.lit("HTTP "), status.cast("string"), F.lit(" Error"))
    expr = None
    for code, msg in _STATUS_MESSAGES:
        expr = (F.when(status == code, F.lit(msg)) if expr is None
                else expr.when(status == code, F.lit(msg)))
    return expr.otherwise(out)


def _path_of(url: Column) -> Column:
    return F.lower(F.regexp_replace(F.regexp_replace(url, r"^https?://[^/]*", ""), r"[?#].*$", ""))


def _contains_any(col: Column, needles: tuple[str, ...]) -> Column:
    out = F.lit(False)
    for n in needles:
        out = out | col.contains(n)
    return out


def classify_page_type(url: Column) -> Column:
    """'archive' | 'important' | 'other' — native transcription of
    issue_detector.py:933-1034."""
    path = _path_of(url)
    is_archive = (
        _contains_any(path, _ARCHIVE_SUBSTRINGS)
        | _contains_any(url, _ARCHIVE_SUBSTRINGS)
        | path.rlike(r"/\d{4}/(\d{2}/)?(\d{2}/)?$")
        | url.contains("page=")
        | url.contains("paged=")
    )
    is_important = (
        (path == "/") | (path == "")
        | _contains_any(path, _IMPORTANT_SUBSTRINGS)
        | path.rlike(r"/\d{4}/\d{2}/\d{2}/[a-z0-9-]+")
        # single >3-char slug => important (issue_detector.py:1026-1029)
        | path.rlike(r"^/[^/]{4,}/?$")
    )
    return (
        F.when(is_archive, F.lit("archive"))
        .when(is_important, F.lit("important"))
        .otherwise(F.lit("other"))
    )


def is_archive_or_utility(url: Column) -> Column:
    return (classify_page_type(url) == "archive") | _contains_any(
        _path_of(url), _UTILITY_SUBSTRINGS
    )


def _norm_cmp(col: Column) -> Column:
    """_normalize_url_for_comparison (issue_detector.py:61-86) as native
    exprs: lower the whole URL, drop the fragment, rstrip ALL trailing
    slashes from the path (root becomes scheme://host with NO slash),
    keep the query. (For scheme-less inputs the reference would prefix
    '://'; this constant prefix never changes equality outcomes, so the
    expression skips it.)"""
    u = F.lower(col)
    u = F.regexp_replace(u, r"#.*$", "")
    q = F.regexp_extract(u, r"\?(.*)$", 1)
    p = F.regexp_replace(u, r"\?.*$", "")
    p = F.regexp_replace(p, r"/+$", "")
    return F.when(q != "", F.concat(p, F.lit("?"), q)).otherwise(p)


# urlparse-equivalent pieces for absolute URLs (and a relative
# fallback); used by the canonical-mismatch branches (issue_detector.py
# :558-580) and the site-wide attribution
_SCHEME_PAT = r"[A-Za-z][A-Za-z0-9+.\-]*"
_NETLOC_RE = rf"^{_SCHEME_PAT}://([^/?#]*)"


def _uscheme(col: Column) -> Column:
    return F.lower(F.regexp_extract(col, rf"^({_SCHEME_PAT})://", 1))


def _unetloc(col: Column) -> Column:
    return F.regexp_extract(col, _NETLOC_RE, 1)


def _upath(col: Column) -> Column:
    after = F.regexp_replace(col, rf"^{_SCHEME_PAT}://[^/?#]*", "")
    return F.regexp_replace(after, r"[?#].*$", "")


# --- per-page checks ---------------------------------------------------------

_ISSUE_T = "struct<type:string, category:string, issue:string, details:string>"


def _mk(cond: Column, typ, category: str, issue, details) -> Column:
    typ = F.lit(typ) if isinstance(typ, str) else typ
    issue = F.lit(issue) if isinstance(issue, str) else issue
    details = F.lit(details) if isinstance(details, str) else details
    return F.when(
        cond,
        F.struct(typ.alias("type"), F.lit(category).alias("category"),
                 issue.alias("issue"), details.alias("details")),
    )


def _istruct(typ, category, issue, details) -> Column:
    typ = F.lit(typ) if isinstance(typ, str) else typ
    issue = F.lit(issue) if isinstance(issue, str) else issue
    details = F.lit(details) if isinstance(details, str) else details
    return F.struct(typ.alias("type"), F.lit(category).alias("category"),
                    issue.alias("issue"), details.alias("details"))


def _s(col: Column) -> Column:
    return col.cast("string")


def per_page_issues(pages: DataFrame) -> DataFrame:
    """All per-page checks in one JVM pass, transcribed check-by-check
    from the reference's detect_issues (issue_detector.py:19-59) and its
    _check_* methods. The status-0 early return (:30-39) is transcribed
    as a `live` gate on every non-connection check; there is NO
    content-type gating anywhere — the reference runs every check on
    every live result (crawler.py:813)."""
    url = F.col("url")
    title = F.coalesce(F.col("title"), F.lit(""))
    desc = F.coalesce(F.col("meta_description"), F.lit(""))
    h1 = F.coalesce(F.col("h1"), F.lit(""))
    status = F.coalesce(F.col("status_code"), F.lit(0))
    wc = F.coalesce(F.col("word_count"), F.lit(0))
    robots = F.lower(F.coalesce(F.col("robots"), F.lit("")))
    xrobots = F.lower(F.coalesce(F.col("x_robots_tag"), F.lit("")))
    # the features many checks read, projected once: each is computed
    # (and planned) once per row instead of inlined into every check
    features = {
        "live": status != 0,
        "arch": is_archive_or_utility(url),
        "ptype": classify_page_type(url),
        "tlen": F.length(title),
        "dlen": F.length(desc),
        # issue_detector.py:879-886 — meta tag / X-Robots-Tag header sources
        "meta_noindex": robots.contains("noindex"),
        "hdr_noindex": xrobots.contains("noindex"),
        "meta_nofollow": robots.contains("nofollow"),
        "hdr_nofollow": xrobots.contains("nofollow"),
    }
    pages = pages.select("*", *[e.alias(f"_{k}") for k, e in features.items()])
    (live, arch, ptype, tlen, dlen, meta_noindex, hdr_noindex, meta_nofollow,
     hdr_nofollow) = (F.col(f"_{k}") for k in features)
    noindex = meta_noindex | hdr_noindex

    checks = [
        # connection failure (issue_detector.py:30-39); everything else
        # below carries the `live` gate transcribing the early return
        _mk(status == 0, "error", "Technical", "Connection Failed",
            F.coalesce(F.col("error"),
                       F.lit("Failed to connect to server or request blocked"))),
        # titles (issue_detector.py:88-151)
        _mk(live & (tlen == 0),
            F.when(arch, "warning").otherwise("error"), "SEO",
            F.when(arch, "Missing Title Tag (Archive/Utility)").otherwise("Missing Title Tag"),
            F.concat(F.lit("Page has no title tag"),
                     F.when(arch, F.lit(" (archive/utility page - lower priority)"))
                     .otherwise(F.lit("")))),
        _mk(live & (tlen > 60), "warning", "SEO", "Page Titles: Over 60 Characters",
            F.concat(F.lit("Title is "), _s(tlen), F.lit(" characters"))),
        _mk(live & (tlen > 0) & (tlen * 9 > 561), "warning", "SEO",
            "Page Titles: Over 561 Pixels",
            F.concat(F.lit("Title is approx "), _s(tlen * 9), F.lit(" pixels"))),
        _mk(live & (tlen > 0) & (tlen < 30), "warning", "SEO", "Title Too Short",
            F.concat(F.lit("Title is "), _s(tlen),
                     F.lit(" characters (recommended: 30-60)"))),
        # meta description (issue_detector.py:153-207) — severity 'info'
        # for archive AND utility pages (:164-177)
        _mk(live & (dlen == 0),
            F.when(arch, "info").otherwise("warning"), "SEO",
            F.when(arch, "Meta Description: Missing (Archive/Utility)")
            .otherwise("Meta Description: Missing"),
            F.concat(F.lit("Page has no meta description"),
                     F.when(arch, F.lit(" (archive/utility page - low priority)"))
                     .otherwise(F.lit("")))),
        _mk(live & (dlen > 155), "warning", "SEO", "Meta Description: Over 155 Characters",
            F.concat(F.lit("Description is "), _s(dlen), F.lit(" characters"))),
        _mk(live & (dlen > 0) & (dlen * 9 > 985), "warning", "SEO",
            "Meta Description: Over 985 Pixels",
            F.concat(F.lit("Description is approx "), _s(dlen * 9), F.lit(" pixels"))),
    ]

    # headings (issue_detector.py:209-351)
    h1_list = F.coalesce(F.col("h1_list"), F.expr("array()").cast("array<string>"))
    n_h1 = F.size(h1_list)
    h1_missing = (F.length(h1) == 0) & (n_h1 == 0)
    checks += [
        _mk(live & h1_missing,
            F.when(arch, "warning").otherwise("error"), "SEO",
            F.when(arch, "Missing H1 Tag (Archive/Utility)").otherwise("Missing H1 Tag"),
            F.concat(F.lit("Page has no H1 heading"),
                     F.when(arch, F.lit(" (archive/utility - lower priority)"))
                     .otherwise(F.lit("")))),
        _mk(live & (n_h1 > 1), "warning", "SEO", "H1: Multiple",
            F.concat(F.lit("Page has "), _s(n_h1), F.lit(" H1 tags"))),
        # nested under the multiple-H1 elif (:245-262)
        _mk(live & (n_h1 > 1) & (F.size(F.array_distinct(h1_list)) < n_h1),
            "warning", "SEO", "H1: Duplicate", "Page has duplicate H1 tags"),
        _mk(live & (F.length(h1) > 70), "warning", "SEO", "H1: Over 70 Characters",
            F.concat(F.lit("H1 is "), _s(F.length(h1)), F.lit(" characters"))),
    ]

    # heading structure (issue_detector.py:273-308): first-heading-not-H1
    # plus one Non-Sequential row per level skip (an array-valued check)
    hs = F.coalesce(F.col("headings_structure"),
                    F.expr("array()").cast("array<struct<level:int, text:string>>"))
    first_level = F.get(hs, 0)["level"]
    first_bad = live & (F.size(hs) > 0) & (first_level > 1)
    checks.append(_mk(
        first_bad,
        F.when(arch, "info").otherwise("warning"), "SEO",
        F.when(arch, F.concat(F.lit("H"), _s(first_level),
                              F.lit(" appears before H1 (Archive/Utility)")))
        .otherwise(F.concat(F.lit("H"), _s(first_level),
                            F.lit(" appears before H1"))),
        F.concat(F.lit("The first heading is an H"), _s(first_level),
                 F.lit(", should be H1."))))
    skip_idx = F.when(
        live & (F.size(hs) >= 2),
        F.filter(
            F.sequence(F.lit(2), F.size(hs)),
            lambda k: (F.get(hs, k - 1)["level"] > F.get(hs, k - 2)["level"] + 1)
            & (F.get(hs, k - 2)["level"] > 0),
        ),
    ).otherwise(F.expr("array()").cast("array<int>"))
    non_sequential = F.transform(
        skip_idx,
        lambda k: _istruct(
            "warning", "SEO",
            F.concat(F.lit("H"), _s(F.get(hs, k - 1)["level"]),
                     F.lit(": Non-Sequential")),
            F.concat(F.lit("Heading structure skips from H"),
                     _s(F.get(hs, k - 2)["level"]), F.lit(" to H"),
                     _s(F.get(hs, k - 1)["level"]))),
    )

    # duplicate H2 + boilerplate allow-list (issue_detector.py:310-351):
    # duplicates in first-occurrence order (Counter iteration order)
    h2 = F.coalesce(F.col("h2"), F.expr("array()").cast("array<string>"))
    boiler = F.array(*[F.lit(b) for b in _BOILERPLATE_H2])
    dupes = F.filter(
        F.array_distinct(h2),
        lambda x: F.size(F.filter(h2, lambda y: y == x)) > 1)
    non_boiler = F.filter(
        dupes, lambda x: ~F.array_contains(boiler, F.lower(F.trim(x))))
    has_dupes = (F.size(h2) > 1) & (F.size(F.array_distinct(h2)) < F.size(h2))
    checks += [
        _mk(live & has_dupes & (F.size(non_boiler) > 0),
            F.when(arch, "info").otherwise("warning"), "SEO",
            F.when(arch, "H2: Duplicate (Archive/Utility)").otherwise("H2: Duplicate"),
            F.concat(F.lit("Page has duplicate H2 tags: "),
                     F.array_join(non_boiler, ", "),
                     F.when(arch, F.lit(" (archive/utility - low priority)"))
                     .otherwise(F.lit("")))),
        _mk(live & has_dupes & (F.size(non_boiler) == 0),
            "info", "SEO", "H2: Duplicate (Boilerplate)",
            F.concat(F.lit("Duplicate template headings found: "),
                     F.array_join(dupes, ", "))),
        # content (issue_detector.py:353-366) — no status/content-type gate
        _mk(live & (wc < 300), "warning", "Content", "Thin Content",
            F.concat(F.lit("Page has only "), _s(wc),
                     F.lit(" words (recommended: ≥300)"))),
        # status codes (issue_detector.py:367-403, C8) — details are the
        # descriptive status message, not the bare code
        _mk((status >= 400) & (status < 500), "error", "Technical",
            "Response Codes: External Client Error (4xx)", status_msg(status)),
        _mk(status >= 500, "error", "Technical",
            "Response Codes: External Server Error (5xx)", status_msg(status)),
        _mk((status >= 300) & (status < 400), "info", "Technical",
            "Response Codes: Internal Redirection (3xx)",
            "URL redirects to another location"),
    ]

    # soft 404 (issue_detector.py:405-451, C10) — three detail shapes
    lt, lh = F.lower(title), F.lower(h1)
    et = _contains_any(lt, _SOFT404_PHRASES)
    eh = _contains_any(lh, _SOFT404_PHRASES)
    checks.append(_mk(
        (status == 200) & (et | eh),
        F.when(et & eh, "error").otherwise("warning"),
        "Technical", "Soft 404: Returns 200 but appears broken",
        F.when(et & eh, F.concat(
            F.lit('Title: "'), F.substring(title, 1, 50),
            F.lit('" and H1: "'), F.substring(h1, 1, 50),
            F.lit('" suggest error page')))
        .when(et, F.concat(F.lit('Title "'), F.substring(title, 1, 60),
                           F.lit('" suggests this is an error page')))
        .otherwise(F.concat(F.lit('H1 "'), F.substring(h1, 1, 60),
                            F.lit('" suggests this is an error page')))))

    # redirect chain (issue_detector.py:453-505, C13) — if/elif ladder:
    # loop > long chain (>3) > multi-hop (>1); redirect_count falls back
    # to len(chain)-1, and is 0 whenever the chain is empty (:455)
    chain = F.coalesce(
        F.col("redirect_chain"),
        F.expr("array()").cast(
            "array<struct<url:string, status_code:int, hop:int, final:boolean>>"),
    )
    rc0 = F.coalesce(F.col("redirect_count"), F.lit(0))
    rc = F.when(F.size(chain) > 0,
                F.when(rc0 != 0, rc0).otherwise(F.size(chain) - 1)).otherwise(F.lit(0))
    loop_hits = F.when(
        F.size(chain) >= 2,
        F.filter(
            F.sequence(F.lit(2), F.size(chain)),
            lambda k: F.array_contains(
                F.transform(F.slice(chain, F.lit(1), k - 1),
                            lambda c: _norm_cmp(c["url"])),
                _norm_cmp(F.get(chain, k - 1)["url"])),
        ),
    ).otherwise(F.expr("array()").cast("array<int>"))
    loop_idx = F.get(loop_hits, 0)
    has_loop = loop_idx.isNotNull()
    loop_url = F.get(chain, loop_idx - 1)["url"]
    chain_summary = F.array_join(
        F.transform(chain, lambda c: F.coalesce(_s(c["status_code"]), F.lit("?"))),
        " → ")
    checks += [
        _mk(live & (rc > 0) & has_loop, "error", "Technical",
            "Redirect Loop Detected",
            F.concat(F.lit("URL redirects back to itself: "), loop_url)),
        _mk(live & (rc > 3) & ~has_loop, "warning", "Technical",
            "Long Redirect Chain",
            F.concat(_s(rc), F.lit(" redirects before final destination. Chain: "),
                     chain_summary)),
        _mk(live & (rc > 1) & (rc <= 3) & ~has_loop, "info", "Technical",
            "Redirect Chain",
            F.concat(_s(rc), F.lit(" redirects: "), chain_summary)),
    ]

    # canonical (issue_detector.py:507-591) — missing-canonical by page
    # type, plus the 5-branch mismatch severity analysis
    canon = F.coalesce(F.col("canonical_url"), F.lit(""))
    checks.append(_mk(
        live & (F.length(canon) == 0) & ~noindex,
        F.when(ptype == "archive", "warning").otherwise("error"),
        "Technical", "Missing Canonical URL",
        F.when(ptype == "important", F.lit("Indexable content page has no canonical URL"))
        .when(ptype == "archive",
              F.lit("Archive page missing canonical (Review if this should be indexed)"))
        .otherwise(F.lit("Page has no canonical URL specified"))))
    u_path, c_path = _upath(url), _upath(canon)
    u_net, c_net = _unetloc(url), _unetloc(canon)
    root = lambda p: (p == "") | (p == "/")
    strip_sl = lambda p: F.regexp_replace(p, r"^/+|/+$", "")
    mismatch = live & (F.length(canon) > 0) & (_norm_cmp(canon) != _norm_cmp(url))
    is_home = root(c_path) & ~root(u_path)
    is_trash = canon.contains("__trashed")
    only_qf = (_uscheme(url) == _uscheme(canon)) & (u_net == c_net) & (u_path == c_path)
    only_slash = (u_net == c_net) & (strip_sl(u_path) == strip_sl(c_path))
    checks.append(_mk(
        mismatch,
        F.when(is_home, "error").when(is_trash, "error")
        .when(only_qf, "info").when(only_slash, "info").otherwise("warning"),
        "Technical", "Canonicals: Canonicalised",
        F.when(is_home, F.lit("Critical: Content page canonicalises to Homepage (Soft 404 risk)"))
        .when(is_trash, F.lit("Critical: Canonical points to a trashed post URL"))
        .when(only_qf, F.lit("Safe: Canonical removes query parameters or fragments"))
        .when(only_slash, F.lit("Safe: Canonical normalizes slash or protocol"))
        .otherwise(F.concat(F.lit("Page is canonicalised to: "), canon))))

    # mobile (issue_detector.py:597-608)
    checks.append(_mk(
        live & (F.length(F.coalesce(F.col("viewport"), F.lit(""))) == 0),
        "error", "Mobile", "Missing Viewport Meta Tag",
        "Page is not mobile-optimized"))

    # accessibility + images (issue_detector.py:610-651, A4): lang
    # attribute, missing alt, missing width/height — category 'Images'
    checks.append(_mk(
        live & (F.length(F.coalesce(F.col("lang"), F.lit(""))) == 0),
        "info", "Accessibility", "Missing Language Attribute",
        "Template issue: HTML tag missing lang attribute "
        "(accessibility best practice)"))
    imgs = F.coalesce(F.col("images"), F.expr(
        "cast(array() as array<struct<src:string, alt:string,"
        " width:string, height:string>>)"))
    n_no_alt = F.size(F.filter(
        imgs, lambda i: F.coalesce(i["alt"], F.lit("")) == ""))
    n_no_size = F.size(F.filter(
        imgs, lambda i: (F.coalesce(i["width"], F.lit("")) == "")
        | (F.coalesce(i["height"], F.lit("")) == "")))
    checks += [
        _mk(live & (n_no_alt > 0), "warning", "Images", "Images: Missing Alt Text",
            F.concat(_s(n_no_alt), F.lit(" images lack alt text"))),
        _mk(live & (n_no_size > 0), "info", "Images", "Images: Missing Size Attributes",
            F.concat(_s(n_no_size), F.lit(" images lack width/height attributes"))),
        # indexability (issue_detector.py:873-931): severity by page type,
        # details name the directive source(s)
        _mk(live & noindex,
            F.when(ptype == "archive", "info")
            .when(ptype == "important", "error").otherwise("warning"),
            "Indexability", "Directives: Noindex",
            F.concat(
                F.lit("Source: "),
                F.array_join(F.array_compact(F.array(
                    F.when(meta_noindex, F.lit("HTML Meta Tag")),
                    F.when(hdr_noindex, F.lit("HTTP Header (X-Robots-Tag)")))), " & "),
                F.when(ptype == "archive", F.lit(" (Expected for archive page)"))
                .when(ptype == "important",
                      F.lit(" (Critical: Important page is blocked!)"))
                .otherwise(F.lit("")))),
        _mk(live & (meta_nofollow | hdr_nofollow), "warning", "Indexability",
            "Directives: Nofollow",
            F.concat(
                F.lit("Source: "),
                F.array_join(F.array_compact(F.array(
                    F.when(meta_nofollow, F.lit("HTML Meta Tag")),
                    F.when(hdr_nofollow, F.lit("HTTP Header (X-Robots-Tag)")))), " & "))),
    ]

    # social (issue_detector.py:653-673)
    og = F.coalesce(F.col("og_tags"), F.expr("map()"))
    tw = F.coalesce(F.col("twitter_tags"), F.expr("map()"))
    checks += [
        _mk(live & (F.size(og) == 0), "info", "Social", "Missing OpenGraph Tags",
            "Page has no OpenGraph tags for social sharing"),
        _mk(live & (F.size(tw) == 0), "info", "Social", "Missing Twitter Card Tags",
            "Page has no Twitter Card tags"),
    ]

    # URL structure (issue_detector.py:1037-1079) — path is the raw
    # (case-preserving) urlparse().path: scheme://host stripped, ?# cut
    raw_path = F.regexp_replace(F.regexp_replace(url, r"^https?://[^/?#]*", ""), r"[?#].*$", "")
    path_parts = F.expr(
        "filter(split(regexp_replace(regexp_replace(url, '^https?://[^/?#]*', ''),"
        " '[?#].*$', ''), '/'), x -> x != '')"
    )
    checks += [
        _mk(live & (F.length(url) > 115), "info", "URL", "URL: Over 115 Characters",
            F.concat(F.lit("URL is "), _s(F.length(url)),
                     F.lit(" characters long"))),
        _mk(live & raw_path.contains("_"), "info", "URL", "URL: Underscores",
            "URL contains underscores (use hyphens instead)"),
        _mk(live & url.contains("?"), "info", "URL", "URL: Parameters",
            "URL contains query parameters"),
        _mk(live & (F.size(path_parts) != F.size(F.array_distinct(path_parts))),
            "info", "URL", "URL: Repetitive Path",
            "URL path contains duplicate segments"),
    ]

    # performance (issue_detector.py:849-871)
    rt = F.coalesce(F.col("response_time"), F.lit(0.0))
    psize = F.coalesce(F.col("size"), F.lit(0))
    checks += [
        _mk(live & (rt > 3000), "error", "Performance", "Slow Response Time",
            F.concat(F.lit("Page took "), _s(rt),
                     F.lit("ms to respond (recommended: <3000ms)"))),
        _mk(live & (psize > 3 * 1024 * 1024), "error", "Performance", "Large Page Size",
            F.concat(F.lit("Page size is "),
                     F.format_string("%.1f", psize / F.lit(1024.0) / F.lit(1024.0)),
                     F.lit("MB (recommended: <3MB)"))),
    ]

    # links (issue_detector.py:1081-1151) — per-page aggregations over the
    # links_data array via higher-order filters: no explode, no shuffle
    ld = F.coalesce(
        F.col("links_data"),
        F.expr("cast(array() as array<struct<href:string, absolute_url:string,"
               " text:string, rel:array<string>, target:string,"
               " is_internal:boolean>>)"),
    )
    ext_out = F.coalesce(F.col("external_links"), F.lit(0))
    checks.append(_mk(
        live & (ext_out > 50), "info", "Links",
        "Links: Pages With High External Outlinks",
        F.concat(F.lit("Page has "), _s(ext_out), F.lit(" external links"))))
    ltext = lambda l: F.trim(F.lower(F.coalesce(l["text"], F.lit(""))))
    n_nofollow = F.size(F.filter(
        ld, lambda l: l["is_internal"] & F.array_contains(l["rel"], "nofollow")))
    # reference counts ALL empty-text links despite the "Internal" in
    # the issue name (issue_detector.py:1114-1117); the stored
    # links_data has no aria-label key, so that guard half is
    # vacuously true. Text is lowered+stripped first (:1104).
    n_empty = F.size(F.filter(ld, lambda l: ltext(l) == ""))
    generic = F.array(*[F.lit(g) for g in
                        ("click here", "read more", "more", "here",
                         "link", "this", "go")])
    n_generic = F.size(F.filter(
        ld, lambda l: l["is_internal"] & F.array_contains(generic, ltext(l))))
    checks += [
        _mk(live & (n_nofollow > 0), "info", "Links",
            "Links: Internal Nofollow Outlinks",
            F.concat(_s(n_nofollow),
                     F.lit(" internal links are marked nofollow"))),
        _mk(live & (n_empty > 0), "warning", "Links",
            "Links: Internal Outlinks With No Anchor Text",
            F.concat(_s(n_empty), F.lit(" links have no anchor text"))),
        _mk(live & (n_generic > 0), "warning", "Links",
            "Links: Non-Descriptive Anchor Text",
            F.concat(_s(n_generic),
                     F.lit(' links use generic text like "click here"'))),
    ]

    # security, per-page part (issue_detector.py:1250-1297): mixed
    # content + protocol-relative resources on https pages
    mixed = F.transform(
        F.filter(imgs, lambda i: F.coalesce(i["src"], F.lit("")).startswith("http://")),
        lambda i: F.concat(F.lit("Image: "), i["src"]),
    )
    n_mixed = F.size(mixed)
    mixed_details = F.concat(
        F.lit("Secure page loads insecure (HTTP) assets: "),
        F.array_join(F.slice(mixed, 1, 5), ", "),
        F.when(n_mixed > 5,
               F.concat(F.lit(", and "), _s(n_mixed - 5),
                        F.lit(" more"))).otherwise(F.lit("")),
    )
    n_proto_rel = (
        F.size(F.filter(imgs, lambda i: F.coalesce(i["src"], F.lit("")).startswith("//")))
        + F.size(F.filter(ld, lambda l: F.coalesce(l["href"], F.lit("")).startswith("//"))))
    is_https = url.startswith("https://")
    checks += [
        _mk(live & is_https & (n_mixed > 0), "error", "Security",
            "Security: Mixed Content", mixed_details),
        _mk(live & is_https & (n_proto_rel > 0), "warning", "Security",
            "Security: Protocol-Relative Resource Links",
            F.concat(_s(n_proto_rel),
                     F.lit(" resources use protocol-relative URLs (//)."
                           " Use explicit HTTPS instead."))),
    ]

    # structured data (issue_detector.py:675-847) — the schema analysis
    # (recursive @type walk, FAQ count, org/website flags) runs once in
    # the extraction pass; here the checks stay pure column expressions.
    no_data = (F.size("json_ld") == 0) & (F.size("schema_org") == 0)
    types_has = lambda t: F.array_contains("schema_types", t)
    checks += [
        # reference early-returns after this check, so every other
        # structured check is conditioned on NOT no_data
        _mk(live & no_data, "warning", "Structured Data", "No Structured Data",
            "Page has no JSON-LD or Schema.org markup"),
        _mk(
            live & ~no_data & (ptype == "important")
            & ~F.col("has_organization") & ~F.col("has_website")
            & ~types_has("Article") & ~types_has("BlogPosting") & ~types_has("Product"),
            "info", "Structured Data", "Schema: Missing Organization/WebSite",
            "Consider adding Organization or WebSite schema for brand visibility"),
        _mk(live & ~no_data & types_has("FAQPage") & (F.col("faq_count") == 0),
            "warning", "Structured Data", "Schema: FAQPage has no questions",
            "FAQPage schema found but no Question items detected"),
        _mk(live & ~no_data & types_has("FAQPage")
            & (F.col("faq_count") > 0) & (F.col("faq_count") < 3),
            "info", "Structured Data", "Schema: FAQPage has few questions",
            F.concat(F.lit("Only "), _s(F.col("faq_count")),
                     F.lit(" FAQ items found (3+ recommended)"))),
        _mk(
            live & ~no_data
            & (types_has("Article") | types_has("BlogPosting") | types_has("NewsArticle"))
            & ~F.col("article_fields_ok"),
            "warning", "Structured Data", "Schema: Article missing required fields",
            "Article schema should have headline and datePublished"),
    ]

    arr = F.concat(
        F.array_compact(F.array(*[c.otherwise(F.lit(None).cast(_ISSUE_T)) for c in checks])),
        non_sequential)
    return (
        pages.select(url.alias("url"), F.explode(arr).alias("i"))
        .select("url", "i.*")
    )


# --- site-wide checks --------------------------------------------------------

def _fetch_ord() -> Column:
    """Fetch order: the reference appends results as it fetches them,
    and the engine's pages carry that order as (wave, seq)."""
    return F.struct("wave", "seq")


def security_header_issues(pages: DataFrame) -> DataFrame:
    """Site-wide security-header checks (issue_detector.py:1186-1247):
    Missing CSP / HSTS / X-Frame-Options, reported ONCE per domain (the
    reference's reported_sitewide_issues set), attributed to the domain's
    first crawled page in fetch order and emitted as scheme://domain.

    Scale shape: one groupBy(domain) with one min_by per check, whose
    ordering is NULL on the pages that pass it (min_by skips NULL
    orderings) — no window, one keyed aggregation for all three."""
    hm = F.coalesce(F.col("response_headers"), F.expr("map()"))
    checks = (
        (~F.map_contains_key(hm, "content-security-policy"),
         "info", "Security: Missing Content-Security-Policy",
         "Server does not send Content-Security-Policy header. "
         "This is a site-wide configuration issue."),
        (F.col("url").startswith("https://")
         & ~F.map_contains_key(hm, "strict-transport-security"),
         "warning", "Security: Missing HSTS Header",
         "HTTP Strict Transport Security (HSTS) is not enabled. "
         "Users effectively can be downgraded to HTTP."),
        (~F.map_contains_key(hm, "x-frame-options"),
         "info", "Security: Missing X-Frame-Options",
         "Missing X-Frame-Options header can leave the site vulnerable "
         "to Clickjacking."),
    )
    first = (
        pages.filter(F.col("status_code") != 0)
        .groupBy(F.regexp_extract("url", _NETLOC_RE, 1).alias("domain"))
        .agg(*[F.min_by(_uscheme(F.col("url")), F.when(cond, _fetch_ord())).alias(f"s{k}")
               for k, (cond, *_) in enumerate(checks)])
    )
    rows = F.array_compact(F.array(*[
        F.when(F.col(f"s{k}").isNotNull(), F.struct(
            F.concat(F.col(f"s{k}"), F.lit("://"), F.col("domain")).alias("url"),
            F.lit(typ).alias("type"), F.lit("Security").alias("category"),
            F.lit(issue).alias("issue"), F.lit(details).alias("details")))
        for k, (_, typ, issue, details) in enumerate(checks)
    ]))
    return first.select(F.explode(rows).alias("i")).select("i.*")


def unsafe_cross_origin_issues(pages: DataFrame) -> DataFrame:
    """Links: Unsafe Cross-Origin (issue_detector.py:1153-1184): external
    links opening in _blank without rel=noopener/noreferrer, reported
    once per EXTERNAL domain site-wide, attributed to the first page (in
    fetch order) where the domain was seen. Domain parses from the RAW
    href like the reference's urlparse(href).netloc — relative hrefs
    yield '' and are skipped; the scheme match is case-insensitive and
    scheme-agnostic (urlparse semantics)."""
    ld = F.coalesce(
        F.col("links_data"),
        F.expr("cast(array() as array<struct<href:string, absolute_url:string,"
               " text:string, rel:array<string>, target:string,"
               " is_internal:boolean>>)"),
    )
    unsafe = F.filter(
        ld,
        lambda l: (l["target"] == "_blank") & ~l["is_internal"]
        & ~F.array_contains(l["rel"], "noopener")
        & ~F.array_contains(l["rel"], "noreferrer"),
    )
    dom = F.regexp_extract(
        F.col("l")["href"], r"(?i)^(?:[a-z][a-z0-9+.\-]*:)?//([^/?#]*)", 1)
    return (
        pages.filter(F.col("status_code") != 0)
        .select("url", _fetch_ord().alias("_ord"), F.explode(unsafe).alias("l"))
        .select("url", "_ord", dom.alias("domain"))
        .filter(F.col("domain") != "")
        .groupBy("domain")
        .agg(F.min_by("url", F.col("_ord")).alias("url"))
        .select(
            "url",
            F.lit("info").alias("type"),
            F.lit("Security").alias("category"),
            F.lit("Security: Unsafe Cross-Origin Links").alias("issue"),
            F.concat(
                F.lit("External domain "), F.col("domain"),
                F.lit(' opens in new tab without rel="noopener" '
                      "(Best practice recommendation)"),
            ).alias("details"),
        )
    )


# --- whole-crawl checks ------------------------------------------------------

def _link_ord() -> Column:
    """Link-collection order: all_links is built per fetched page in
    fetch order, per page in document order (link_manager.py:120-199),
    and the engine's links carry that order as (src_wave, src_seq, pos)."""
    return F.struct("src_wave", "src_seq", "pos")


def _last_by_url(pages: DataFrame) -> DataFrame:
    """One row per normalized page URL `_k`. The reference's whole-crawl
    detectors look crawl results up in dicts keyed on the normalized URL
    and filled in fetch order, so the LAST result wins a collision
    (issue_detector.py:1516-1521, 1643-1654, 1736-1746, 1854-1855):
    that result is `last`. url_hreflang_map (:1845-1862) takes only the
    results that carry hreflangs: `hl_last` is the last of those, NULL
    when there is none.

    J3-J6 all read this frame. It is one collect_list, not a max_by per
    rule: Spark prunes the aggregates a detector does not read, so two
    would give the detectors different plans, where one gives them all
    the same plan, whose exchange runs once and is reused elsewhere in
    the report."""
    hl = F.coalesce(F.col("hreflang"),
                    F.expr("array()").cast("array<struct<lang:string, url:string>>"))
    noindex = (F.lower(F.coalesce("robots", F.lit(""))).contains("noindex")
               | F.lower(F.coalesce("x_robots_tag", F.lit(""))).contains("noindex"))
    results = F.collect_list(F.struct(
        _fetch_ord().alias("ord"), "url", "status_code", noindex.alias("noindex"),
        F.coalesce("canonical_url", F.lit("")).alias("canonical_url"), hl.alias("hl")))
    # `ord` leads each struct and is unique, so array_max is the last
    # result. The NULL-key filter is stated here, not inferred per join,
    # so that every detector's copy of the aggregate's input is the same.
    return (
        pages.groupBy(_norm_cmp(F.col("url")).alias("_k"))
        .agg(results.alias("_r"))
        .filter(F.col("_k").isNotNull())
        .select("_k", F.array_max("_r").alias("last"),
                F.array_max(F.filter("_r", lambda r: F.size(r["hl"]) > 0)).alias("hl_last"))
    )


def links_to_redirects(pages: DataFrame, links: DataFrame) -> DataFrame:
    """J4 (issue_detector.py:1628-1718): internal links whose target is a
    3xx page, grouped by source page; details carry the first 3
    '{target} ({status})' examples in link-collection order."""
    redirecting = (
        _last_by_url(pages).select("_k", F.col("last.status_code").alias("_tstat"))
        .filter((F.col("_tstat") >= 300) & (F.col("_tstat") < 400))
    )
    j = (
        links.filter("is_internal")
        .select("source_url", "target_url", _norm_cmp(F.col("target_url")).alias("_k"),
                _link_ord().alias("_lord"))
        .join(redirecting, "_k")
    )
    g = (
        j.groupBy("source_url")
        .agg(
            F.count("*").alias("n_links_to_redirects"),
            F.transform(
                F.array_sort(F.collect_list(F.struct(
                    F.col("_lord").alias("o"), F.col("target_url").alias("t"),
                    F.col("_tstat").alias("s")))),
                lambda x: F.concat(x["t"], F.lit(" ("), _s(x["s"]), F.lit(")")),
            ).alias("_ex"),
            F.sort_array(F.collect_set(F.col("target_url"))).alias("redirect_targets"),
        )
    )
    n = F.col("n_links_to_redirects")
    return g.select(
        F.col("source_url").alias("url"), F.lit("warning").alias("type"),
        F.lit("Links").alias("category"),
        F.lit("Links: Internal Links to Redirects").alias("issue"),
        F.concat(
            _s(n), F.lit(" internal links point to redirecting URLs: "),
            F.array_join(F.slice("_ex", 1, 3), ", "),
            F.when(n > 3, F.concat(F.lit(", and "), _s(n - 3), F.lit(" more")))
            .otherwise(F.lit("")),
        ).alias("details"),
        "n_links_to_redirects", "redirect_targets",
    )


def broken_link_sources(pages: DataFrame, links: DataFrame) -> DataFrame:
    """J5 (issue_detector.py:1720-1815): pages with status>=400 or 0
    joined back to their linking sources (internal AND external links,
    normalized-URL match). The issue LABEL itself is dynamic; details
    list the first 5 sources in link-collection order; status 0 targets
    are 'warning', 4xx/5xx 'error'."""
    broken = (
        _last_by_url(pages).select("_k", "last.url", "last.status_code")
        .filter((F.col("status_code") >= 400) | (F.col("status_code") == 0))
    )
    srcs = (
        links.groupBy(_norm_cmp(F.col("target_url")).alias("_k"))
        .agg(F.transform(
            F.array_sort(F.collect_list(F.struct(
                _link_ord().alias("o"), F.col("source_url").alias("s")))),
            lambda x: x["s"],
        ).alias("linked_from"))
    )
    j = broken.join(srcs, "_k")
    n = F.size("linked_from")
    return j.select(
        "url",
        F.when(F.col("status_code") >= 400, F.lit("error"))
        .otherwise(F.lit("warning")).alias("type"),
        F.lit("Links").alias("category"),
        F.concat(F.lit("Broken Link Sources: "), _s(F.col("status_code")),
                 F.lit(" error linked from "), _s(n),
                 F.lit(" pages")).alias("issue"),
        F.concat(
            F.lit("This broken URL is linked from: "),
            F.array_join(F.slice("linked_from", 1, 5), ", "),
            F.when(n > 5, F.concat(F.lit(" and "), _s(n - 5), F.lit(" more")))
            .otherwise(F.lit("")),
        ).alias("details"),
        "linked_from",
    )


_VALID_LANG_CODES = (
    # issue_detector.py:1830-1840 — ISO 639-1 set + x-default
    "aa ab af ak am ar as ay az ba be bg bh bi bn bo br bs ca co cs cy da de dz "
    "el en eo es et eu fa fi fj fo fr fy ga gd gl gn gu ha he hi hr hu hy ia id "
    "ie ik is it iu ja jv ka kk kl km kn ko ks ku ky la lb ln lo lt lv mg mi mk "
    "ml mn mr ms mt my na ne nl no oc om or pa pl ps pt qu rm rn ro ru rw sa sd "
    "sg sh si sk sl sm sn so sq sr ss st su sv sw ta te tg th ti tk tl tn to tr "
    "ts tt tw ug uk ur uz ve vi vo wo xh yi yo za zh zu x-default"
).split()
_HREFLANG_RE = r"(?i)^[a-z]{2,3}(-[A-Za-z]{2,4})?(-[A-Za-z]{2})?$|^x-default$"


def _hreflang_edges(last: DataFrame) -> DataFrame:
    """One row per hreflang entry of each url_hreflang_map page, keeping
    duplicates, since the reference emits one issue row per entry. The
    checks read only the entries with a lang and a target (`edge`,
    issue_detector.py:1874-1879); the reciprocity lookup reads every
    entry's url. Each row carries its target's entries in url_status_map
    (`t_status`, the last result's status, NULL when never crawled) and
    url_hreflang_map (`t_has_hl`)."""
    targets = last.select(
        F.col("_k").alias("norm_target"), F.col("last.status_code").alias("t_status"),
        F.col("hl_last").isNotNull().alias("t_has_hl"))
    return (
        last.filter(F.col("hl_last").isNotNull())
        .select(F.col("hl_last.url").alias("source"), F.col("_k").alias("norm_source"),
                F.explode("hl_last.hl").alias("h"))
        .select("source", "norm_source",
                F.coalesce(F.col("h.lang"), F.lit("")).alias("lang"),
                F.coalesce(F.col("h.url"), F.lit("")).alias("target"))
        .select("*", ((F.col("lang") != "") & (F.col("target") != "")).alias("edge"),
                _norm_cmp(F.col("target")).alias("norm_target"))
        .join(targets, "norm_target", "left")
    )


def _invalid_code_rows(edges: DataFrame) -> DataFrame:
    """C12 (issue_detector.py:1883-1902): format check first ('Invalid
    Language Code'), then primary-subtag lookup ('Unknown Language
    Code') — two distinct labels, transcribed details."""
    primary = F.lower(F.element_at(F.split(F.col("lang"), "-"), 1))
    bad_fmt = ~F.col("lang").rlike(_HREFLANG_RE)
    unknown = (~bad_fmt & ~primary.isin(*_VALID_LANG_CODES)
               & (F.lower(F.col("lang")) != "x-default"))
    return edges.filter(F.col("edge") & (bad_fmt | unknown)).select(
        F.col("source").alias("url"), F.lit("warning").alias("type"),
        F.lit("International").alias("category"),
        F.when(bad_fmt, F.lit("Hreflang: Invalid Language Code"))
        .otherwise(F.lit("Hreflang: Unknown Language Code")).alias("issue"),
        F.when(bad_fmt, F.concat(
            F.lit('Invalid hreflang code "'), F.col("lang"),
            F.lit('" - should be ISO 639-1 format (e.g., en, en-US)')))
        .otherwise(F.concat(
            F.lit('Unrecognized language code "'), F.col("lang"),
            F.lit('" - verify it is a valid ISO 639-1 code'))).alias("details"),
        "lang", "target",
    )


def _reciprocity_rows(edges: DataFrame) -> DataFrame:
    """J6 (issue_detector.py:1908-1928): an edge (A -> B) is flagged only
    when B itself carries hreflang tags (it is in url_hreflang_map) and
    none of B's entries, with or without a lang, points back to A
    (normalized comparison)."""
    back = edges.select(F.col("norm_source").alias("b_source"),
                        F.col("norm_target").alias("b_target"))
    return edges.filter(F.col("edge") & F.col("t_has_hl")).join(
        back,
        (F.col("norm_target") == back["b_source"])
        & (F.col("norm_source") == back["b_target"]),
        "left_anti",
    ).select(
        F.col("source").alias("url"), F.lit("warning").alias("type"),
        F.lit("International").alias("category"),
        F.lit("Hreflang: Missing Reciprocal Link").alias("issue"),
        F.concat(F.lit("Page points to "), F.col("target"),
                 F.lit(" ("), F.col("lang"),
                 F.lit(") but target does not point back")).alias("details"),
        F.col("target").alias("hreflang_target"), "lang",
    )


def _non200_rows(edges: DataFrame) -> DataFrame:
    """issue_detector.py:1933-1943: every hreflang edge whose target is
    4xx/5xx, connection-failed, or never crawled (lookup default 0)."""
    ts = F.coalesce(F.col("t_status"), F.lit(0))
    return edges.filter(F.col("edge") & ((ts >= 400) | (ts == 0))).select(
        F.col("source").alias("url"), F.lit("error").alias("type"),
        F.lit("International").alias("category"),
        F.lit("Hreflang: Points to Non-200 Page").alias("issue"),
        F.concat(F.lit("Hreflang ("), F.col("lang"), F.lit(") points to "),
                 F.col("target"), F.lit(" which returns status "),
                 _s(ts)).alias("details"),
    )


def _missing_self_rows(last: DataFrame) -> DataFrame:
    """issue_detector.py:1954-1963: pages with hreflang tags but no
    self-referencing entry (only non-empty lang+url entries count as a
    self-reference, matching the loop's `continue`)."""
    has_self = F.exists(
        F.col("hl_last.hl"),
        lambda h: (F.coalesce(h["lang"], F.lit("")) != "")
        & (F.coalesce(h["url"], F.lit("")) != "")
        & (_norm_cmp(h["url"]) == F.col("_k")),
    )
    return last.filter(F.col("hl_last").isNotNull() & ~has_self).select(
        F.col("hl_last.url").alias("url"), F.lit("info").alias("type"),
        F.lit("International").alias("category"),
        F.lit("Hreflang: Missing Self-Reference").alias("issue"),
        F.lit("Page has hreflang tags but no self-referencing hreflang")
        .alias("details"),
    )


def hreflang_invalid_codes(pages: DataFrame) -> DataFrame:
    """C12 rows with each edge's lang and target."""
    return _invalid_code_rows(_hreflang_edges(_last_by_url(pages)))


def hreflang_reciprocity(pages: DataFrame) -> DataFrame:
    """J6 rows with each edge's hreflang_target and lang."""
    return _reciprocity_rows(_hreflang_edges(_last_by_url(pages)))


def hreflang_issues(pages: DataFrame) -> DataFrame:
    """All four hreflang families (issue_detector.py:1817-1969), built
    from one edge frame."""
    core = ["url", "type", "category", "issue", "details"]
    last = _last_by_url(pages)
    edges = _hreflang_edges(last)
    return (
        _invalid_code_rows(edges).select(*core)
        .unionByName(_reciprocity_rows(edges).select(*core))
        .unionByName(_non200_rows(edges))
        .unionByName(_missing_self_rows(last))
    )


def sitemap_cross_ref(sitemap_urls: DataFrame, pages: DataFrame) -> DataFrame:
    """J3 'dirty sitemap' (issue_detector.py:1536-1611): left-join
    sitemap URLs to crawl results on normalized URL; classify. Error
    covers 4xx/5xx AND connection-failed (status 0, :1569); noindex
    reads the meta tag OR the X-Robots-Tag header (:1556-1559)."""
    # no dedup here: the reference classifies every list entry, so a
    # duplicated sitemap URL tallies (and emits issue rows) twice
    # (issue_detector.py:1545); the crawl plan dedups upstream
    sm = sitemap_urls.select(
        F.col("url").alias("sitemap_url"), _norm_cmp(F.col("url")).alias("_k")
    )
    j = sm.join(_last_by_url(pages).select("_k", "last.*"), "_k", "left")
    cls = (
        F.when(F.col("url").isNull(), "not_crawled")
        .when((F.col("status_code") >= 400) | (F.col("status_code") == 0), "error")
        .when((F.col("status_code") >= 300) & (F.col("status_code") < 400), "redirect")
        .when(F.col("noindex"), "noindex")
        .when(
            (F.length("canonical_url") > 0)
            & (_norm_cmp(F.col("canonical_url")) != F.col("_k")), "non_canonical")
        .otherwise(F.lit("valid"))
    )
    return j.select("sitemap_url", cls.alias("classification"), "status_code",
                    "canonical_url")


def sitemap_issue_rows(sitemap_urls: DataFrame, pages: DataFrame) -> DataFrame:
    """The per-URL Sitemap issue rows the reference pushes into the main
    issue list (issue_detector.py:1569-1611): Broken / Redirecting /
    Noindexed / Non-Canonical URL."""
    c = sitemap_cross_ref(sitemap_urls, pages)
    cls = F.col("classification")
    return c.filter(cls.isin("error", "redirect", "noindex", "non_canonical")).select(
        F.col("sitemap_url").alias("url"),
        F.when(cls == "error", F.lit("error")).otherwise(F.lit("warning")).alias("type"),
        F.lit("Sitemap").alias("category"),
        F.when(cls == "error", F.lit("Sitemap: Broken URL"))
        .when(cls == "redirect", F.lit("Sitemap: Redirecting URL"))
        .when(cls == "noindex", F.lit("Sitemap: Noindexed URL"))
        .otherwise(F.lit("Sitemap: Non-Canonical URL")).alias("issue"),
        F.when(cls == "error", F.concat(
            F.lit("URL returns "), status_msg(F.col("status_code")),
            F.lit(" (Status "), _s(F.col("status_code")), F.lit(")")))
        .when(cls == "redirect", F.concat(
            F.lit("URL redirects ("), _s(F.col("status_code")),
            F.lit(") - update sitemap with final destination")))
        .when(cls == "noindex", F.lit(
            "URL has noindex directive - remove from sitemap or remove noindex"))
        .otherwise(F.concat(
            F.lit("URL canonicalises to "), F.col("canonical_url"),
            F.lit(" - update sitemap with canonical URL"))).alias("details"),
    )


def sitemap_health(sitemap_urls: DataFrame, pages: DataFrame) -> DataFrame:
    """A7: conditional tallies over the J3 classification, keyed like the
    reference's summary dict (issue_detector.py:1617-1626)."""
    c = sitemap_cross_ref(sitemap_urls, pages)
    key = {"error": "errors", "redirect": "redirects"}
    return c.agg(
        F.count("*").alias("total"),
        *[
            F.sum(F.when(F.col("classification") == k, 1).otherwise(0))
            .alias(key.get(k, k))
            for k in ("valid", "error", "redirect", "noindex", "non_canonical",
                      "not_crawled")
        ],
    )


def exclude_pages(pages: DataFrame, patterns: tuple[str, ...]) -> DataFrame:
    """Detect-time exclusion (issue_detector.py:24-26 via :1457-1469):
    drop whole pages before running per-page / site-wide / duplication
    checks, so site-wide attribution lands on the first NON-excluded
    page exactly like the reference."""
    if not patterns:
        return pages
    return pages.filter(~_excluded_url(tuple(patterns))(F.col("url")))


def _excluded_url(pats: tuple[str, ...]):
    @F.pandas_udf("boolean")
    def excluded(url_s):
        from fnmatch import fnmatch
        from urllib.parse import urlparse

        import pandas as pd

        out = []
        for u in url_s:
            path = urlparse(u or "").path
            hit = False
            for p in pats:
                if "*" in p:
                    if fnmatch(path, p):
                        hit = True
                        break
                elif path == p or path.startswith(p.rstrip("*")):
                    hit = True
                    break
            out.append(hit)
        return pd.Series(out, dtype=bool)

    return excluded


def apply_issue_exclusions(issues: DataFrame, patterns: tuple[str, ...]) -> DataFrame:
    """F11 read-time re-filter (main.py:409-441): drop issues whose URL
    *path* matches an exclusion pattern — fnmatch when the pattern has a
    '*', else exact-or-prefix. Exact fnmatch semantics via a tiny Arrow
    UDF (the issues table is small relative to pages; patterns are
    user-supplied globs)."""
    if not patterns:
        return issues
    return issues.filter(~_excluded_url(tuple(patterns))(F.col("url")))


def detect_all_issues(pages: DataFrame, links: DataFrame, *,
                      sitemap_urls: DataFrame | None = None,
                      duplication_threshold: float = 0.85,
                      enable_duplication_check: bool = True,
                      exclusion_patterns: tuple[str, ...] = ()) -> DataFrame:
    """The full issue report — engine analogue of running the
    reference's ``detect_issues`` over every crawled result plus its
    whole-crawl passes (issue_detector.py:19-59, 1299-1969): per-page
    checks, sitemap rows (J3), link-graph joins (J4/J5), hreflang (J6),
    site-wide security, duplicate content (J7).

    Exclusion semantics mirror the reference exactly: per-page,
    site-wide and duplication checks skip excluded pages at DETECT time
    (:24-26, :1330-1338 — so site-wide rows attribute to the first
    non-excluded page), and the read-time path re-filters every row
    (main.py:409-441). The whole-crawl joins run over ALL pages, like
    the reference's detectors, and are only filtered at read time.
    Returns (url, type, category, issue, details)."""
    core = ["url", "type", "category", "issue", "details"]
    pages_f = exclude_pages(pages, tuple(exclusion_patterns))
    parts = [
        per_page_issues(pages_f),
        links_to_redirects(pages, links).select(*core),
        broken_link_sources(pages, links).select(*core),
        hreflang_issues(pages),
        security_header_issues(pages_f),
        unsafe_cross_origin_issues(pages_f),
    ]
    if sitemap_urls is not None:
        parts.append(sitemap_issue_rows(sitemap_urls, pages))
    if enable_duplication_check:
        parts.append(duplicate_content_issues(pages_f, duplication_threshold))
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    if exclusion_patterns:
        out = apply_issue_exclusions(out, tuple(exclusion_patterns))
    return out


# --- J7: duplicate-content detection (blocked, provably lossless) ----------

DUP_WEIGHTS = {"title": 0.35, "desc": 0.35, "h1": 0.20, "word_count": 0.10}


def dup_candidate_pairs(pages: DataFrame, threshold: float = 0.85) -> DataFrame:
    """The lossless blocking stage of J7 on its own: (title-band ×
    desc-band) equi-join keys plus EXACT per-field bounds as join
    conjuncts (see duplicate_content_pairs for the proofs). Split out so
    the candidate set itself is oracle-checkable in SQL (the difflib
    verify stage is not SQL-expressible).

    Three lossless cuts compose here:
    1. equi-join on (title-length band, desc-length band) with ±1
       neighbour probes — bounds the join's hash-match fan-out;
    2. exact length-ratio conjuncts 2*min(len) >= need*(lenA+lenB)
       (SequenceMatcher ratio = 2M/(l1+l2) <= 2*min/(l1+l2)) on BOTH
       title and description — removes the band±1 slack entirely, so
       the surviving candidates are exactly the length-feasible pairs;
    3. for threshold > 1-w_h1 (0.8): a flagged pair NEEDS h1_sim >=
       (threshold-0.8)/0.2 > 0, hence both h1 non-empty and the same
       ratio bound on h1 lengths.
    The conjuncts are evaluated inside the join (no extra shuffle), and
    a 1e-9 slack keeps boundary pairs for the exact verify stage. At
    threshold <= 0.65 cuts 1 and 2 bound nothing (need <= 0): the band
    keys are one constant and every pair is a candidate.

    At threshold 0.85 these length cuts are provably the best LOSSLESS
    blocking available: the per-field similarity floor is only ~0.57,
    which admits 2.5x length spreads and any character reordering, so
    content-based keys cannot be complete."""
    w = DUP_WEIGHTS
    need = (threshold - (1.0 - w["title"])) / w["title"]  # == the desc bound
    need_h = (threshold - (1.0 - w["h1"])) / w["h1"]

    # fetch order: the reference scores each pair as (earlier page,
    # later page), and SequenceMatcher.ratio() is not symmetric
    d = pages.select(
        "url", _fetch_ord().alias("fo"),
        F.lower(F.trim(F.coalesce("title", F.lit("")))).alias("t"),
        F.lower(F.trim(F.coalesce("meta_description", F.lit("")))).alias("d"),
        F.lower(F.trim(F.coalesce("h1", F.lit("")))).alias("h"),
        F.coalesce("word_count", F.lit(0)).alias("wc"),
    )
    if need > 0:
        d = d.filter((F.length("t") > 0) & (F.length("d") > 0))
        base = 1.0 / (need / (2.0 - need))  # 1 / (min/max length ratio)
        band, dband = (
            F.floor(F.log(base, F.greatest(F.length(c), F.lit(1)).cast("double"))).cast("int")
            for c in ("t", "d"))
    else:
        # threshold <= 0.65: a pair can reach it with no title or no
        # description similarity, so every pair is a candidate (the
        # length conjuncts below are vacuous too)
        band = dband = F.lit(0)
    if need_h > 0:
        d = d.filter(F.length("h") > 0)
    d = d.withColumn("band", band).withColumn("dband", dband)
    # a valid pair's bands differ by at most 1 on each key, but the
    # url_a<url_b pair order is independent of length order — probe all
    # neighbour combinations (duplicates removed below)
    left = d.withColumn(
        "probe", F.explode(F.array(F.col("band") - 1, F.col("band"), F.col("band") + 1))
    ).withColumn(
        "dprobe", F.explode(F.array(F.col("dband") - 1, F.col("dband"), F.col("dband") + 1))
    )
    right = d.withColumnRenamed("band", "probe").withColumnRenamed("dband", "dprobe")

    def feasible(fa, fb, bound):
        la, lb = F.length(fa), F.length(fb)
        return (2.0 * F.least(la, lb)).cast("double") >= bound * (la + lb) - 1e-9

    cond = (
        (F.col("a.probe") == F.col("b.probe"))
        & (F.col("a.dprobe") == F.col("b.dprobe"))
        & (F.col("a.url") < F.col("b.url"))
        & feasible(F.col("a.t"), F.col("b.t"), need)
        & feasible(F.col("a.d"), F.col("b.d"), need)
    )
    if need_h > 0:
        cond = cond & feasible(F.col("a.h"), F.col("b.h"), need_h)
    return left.alias("a").join(right.alias("b"), cond).select(
        (F.col("a.fo") <= F.col("b.fo")).alias("a_first"),
        F.col("a.url").alias("url_a"), F.col("a.t").alias("t_a"),
        F.col("a.d").alias("d_a"), F.col("a.h").alias("h_a"), F.col("a.wc").alias("wc_a"),
        F.col("b.url").alias("url_b"), F.col("b.t").alias("t_b"),
        F.col("b.d").alias("d_b"), F.col("b.h").alias("h_b"), F.col("b.wc").alias("wc_b"),
    ).dropDuplicates(["url_a", "url_b"])


def duplicate_content_pairs(pages: DataFrame, threshold: float = 0.85) -> DataFrame:
    """J7 (issue_detector.py:1299-1431): weighted SequenceMatcher
    similarity over (title, meta_description, h1, word_count); pairs with
    score >= threshold are duplicates.

    Blocking (see dup_candidate_pairs; for threshold > 0.65): a flagged pair needs
    title_sim >= (threshold-0.65)/0.35 AND desc_sim >= (threshold-0.65)/0.35,
    hence both titles and both descriptions non-empty, and SequenceMatcher
    ratio = 2M/(l1+l2) <= 2*min(l)/(l1+l2) forces a length-ratio bound
    min/max >= r/(2-r) on BOTH fields. We block on (title-length band ×
    desc-length band) sized to that bound (each side joins its own band
    and both neighbours), then verify the exact staged formula per pair
    in an Arrow UDF — identical math to the reference, including its
    early exits (which only skip pairs that cannot reach the threshold).
    The per-pair percentage string is formatted Python-side so details
    match the reference's f-string byte-for-byte."""
    pairs = dup_candidate_pairs(pages, threshold)
    w = DUP_WEIGHTS

    def score_pairs(batches):
        from difflib import SequenceMatcher

        import pandas as pd

        def ratio(a, b, a_first):
            if not (a and b):
                return 0.0
            return (SequenceMatcher(None, a, b) if a_first
                    else SequenceMatcher(None, b, a)).ratio()

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                if r.wc_a and r.wc_b:
                    mx, mn = max(r.wc_a, r.wc_b), min(r.wc_a, r.wc_b)
                    wc_sim = mn / mx if mx > 0 else 0.0
                else:
                    wc_sim = 0.0
                score = wc_sim * w["word_count"]
                max_pot = 1.0 - w["word_count"] + score
                if max_pot < threshold:
                    continue
                t_sim = ratio(r.t_a, r.t_b, r.a_first)
                score += t_sim * w["title"]
                max_pot = max_pot - w["title"] + t_sim * w["title"]
                if max_pot < threshold:
                    continue
                d_sim = ratio(r.d_a, r.d_b, r.a_first)
                score += d_sim * w["desc"]
                max_pot = max_pot - w["desc"] + d_sim * w["desc"]
                if max_pot < threshold:
                    continue
                h_sim = ratio(r.h_a, r.h_b, r.a_first)
                score += h_sim * w["h1"]
                if score >= threshold:
                    rows.append({"url_a": r.url_a, "url_b": r.url_b,
                                 "similarity": round(score, 6),
                                 "pct": f"{score*100:.1f}"})
            yield pd.DataFrame(rows) if rows else pd.DataFrame(
                columns=["url_a", "url_b", "similarity", "pct"])

    return pairs.mapInPandas(
        score_pairs,
        schema="url_a string, url_b string, similarity double, pct string",
    )


def duplicate_content_issues(pages: DataFrame, threshold: float = 0.85) -> DataFrame:
    """Two issue rows per duplicate pair (issue_detector.py:1404-1417)."""
    p = duplicate_content_pairs(pages, threshold)
    # both orientations from one pass over the scored pairs
    row = F.explode(F.array(
        F.struct(F.col("url_a").alias("url"), F.col("url_b").alias("other")),
        F.struct(F.col("url_b").alias("url"), F.col("url_a").alias("other"))))
    return p.select(row.alias("r"), "pct").select(
        "r.url", F.lit("warning").alias("type"), F.lit("Duplication").alias("category"),
        F.lit("Duplicate Content Detected").alias("issue"),
        F.concat(F.lit("Content is "), F.col("pct"), F.lit("% similar to "),
                 F.col("r.other")).alias("details"),
    )
