"""Fetch simulation + page extraction as Spark plans.

Two stages:

1. ``http_meta`` / ``resolve_redirects`` — JVM-native. The synthetic
   response metadata span parses with ``str_to_map`` (no Python), and
   redirect chains resolve with a bounded iterative join over the
   shrinking still-redirecting subset — the distributed equivalent of
   requests' ``allow_redirects`` loop (reference crawler.py:944-976,
   history handling :1033-1052). Chains are bounded by MAX_REDIRECTS;
   loops are detected via the accumulated chain.

2. ``extract_pages`` — ONE Arrow ``mapInPandas`` pass producing the full
   page record + report links + frontier candidates per fetched URL,
   mirroring the fixed extractor sequence of crawler.py:1069-1104
   (extract_basic/meta/images/link_counts/hreflang + collect_all_links +
   extract_links' pure prefix). Per-document parsing is delegated to
   functions/spandoc.py — the same code the equivalence oracle runs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from librecrawl_spark.functions import spandoc

MAX_REDIRECTS = spandoc.MAX_REDIRECTS

LINK_STRUCT = (
    "source_url: string, target_url: string, anchor_text: string, "
    "is_internal: boolean, target_domain: string, placement: string, "
    "nofollow: boolean, scope: string"
)
CAND_STRUCT = "clean_url: string, link_idx: int, signature: string, host: string"
# seo_extractor.py:239-247 — the raw per-anchor link data the link/security
# issue checks consume (distinct from LINK_STRUCT's report-graph rows)
LINKS_DATA_STRUCT = (
    "href: string, absolute_url: string, text: string, rel: array<string>, "
    "target: string, is_internal: boolean"
)
CHAIN_STRUCT = "url: string, status_code: int, hop: int, final: boolean"

PAGE_SCHEMA = (
    "url string, depth int, seq long, wave int, "
    "status_code int, content_type string, size long, is_internal boolean, "
    "retry_count int, backoff_total double, "
    "error string, redirect_count int, redirects array<string>, "
    f"redirect_chain array<struct<{CHAIN_STRUCT}>>, final_url string, "
    "title string, meta_description string, h1 string, h1_list array<string>, "
    "headings_structure array<struct<level:int, text:string>>, "
    "h2 array<string>, h3 array<string>, word_count int, "
    "canonical_url string, robots string, viewport string, "
    "images array<struct<src:string, alt:string, width:string, height:string>>, "
    "internal_links int, external_links int, "
    "hreflang array<struct<lang:string, url:string>>, json_ld_count int, "
    "json_ld array<string>, "
    "schema_types array<string>, "
    "ai_ready array<struct<name:string, rich_result:string>>, "
    "faq_count int, has_organization boolean, has_website boolean, "
    "article_fields_ok boolean, "
    "lang string, charset string, og_tags map<string,string>, "
    "twitter_tags map<string,string>, "
    "analytics struct<google_analytics:boolean, gtag:boolean, ga4_id:string, "
    "gtm_id:string, facebook_pixel:boolean, hotjar:boolean, mixpanel:boolean>, "
    "schema_org array<struct<type:string, properties:map<string,string>>>, "
    "x_robots_tag string, "
    "response_time double, response_headers map<string,string>, "
    f"links_data array<struct<{LINKS_DATA_STRUCT}>>, "
    f"links array<struct<{LINK_STRUCT}>>, candidates array<struct<{CAND_STRUCT}>>"
)


def _http_span_text() -> Column:
    return F.element_at(F.expr("filter(spans, s -> s.kind = 'http')"), 1)["text"]


def http_meta(documents: DataFrame) -> DataFrame:
    """doc_id + decoded response metadata, all JVM-side."""
    m = F.expr("str_to_map(_http_text, ';', '=')")
    return (
        documents.withColumn("_http_text", _http_span_text())
        .select(
            "doc_id",
            F.coalesce(m["status"].cast("int"), F.lit(0)).alias("status"),
            F.coalesce(m["content_type"], F.lit("")).alias("content_type"),
            F.coalesce(m["size"].cast("long"), F.lit(0)).alias("size"),
            F.coalesce(m["redirect"], F.lit("")).alias("redirect"),
            F.coalesce(m["retry_after"], F.lit("")).alias("retry_after"),
            F.coalesce(m["xrobots"], F.lit("")).alias("xrobots"),
            F.coalesce(m["recover_after"].cast("int"), F.lit(0)).alias("recover_after"),
            F.coalesce(m["recover_status"].cast("int"), F.lit(0)).alias("recover_status"),
            F.coalesce(m["rt"].cast("double"), F.lit(0.0)).alias("rt"),
            F.coalesce(m["hdr"], F.lit("")).alias("hdr"),
        )
    )


_REDIRECT_STATUSES = (301, 302, 303, 307, 308)


def resolve_redirects(meta: DataFrame) -> DataFrame:
    """fetch map: doc_id -> (final_doc_id, final status/ct/size, chain, error).

    Bounded iterative join: per hop, only still-redirecting rows re-join
    ``meta`` on their target. At 10^10-doc scale each iteration shuffles
    only the 3xx residue (a few % of docs), and AQE collapses the final
    hops to broadcast joins as the residue shrinks.
    """
    is_redir = F.col("status").isin(*_REDIRECT_STATUSES) & (F.col("redirect") != "")
    cur = meta.select(
        F.col("doc_id"),
        F.col("doc_id").alias("cur_id"),
        "status", "content_type", "size", "redirect", "retry_after", "xrobots",
        "recover_after", "recover_status",
        F.col("rt").alias("rt_total"), "hdr",
        F.array().cast(f"array<struct<{CHAIN_STRUCT}>>").alias("chain"),
        F.lit(None).cast("string").alias("error"),
    )
    done_parts = []
    for _hop in range(MAX_REDIRECTS + 1):
        moving = cur.filter(is_redir & F.col("error").isNull())
        done_parts.append(cur.filter(~(is_redir & F.col("error").isNull())))
        if moving.isEmpty():
            cur = None
            break
        hop_entry = F.struct(
            F.col("cur_id").alias("url"),
            F.col("status").alias("status_code"),
            (F.size("chain") + 1).alias("hop"),
            F.lit(False).alias("final"),
        )
        nxt = meta.select(
            F.col("doc_id").alias("_n_id"),
            F.col("status").alias("_n_status"),
            F.col("content_type").alias("_n_ct"),
            F.col("size").alias("_n_size"),
            F.col("redirect").alias("_n_redirect"),
            F.col("retry_after").alias("_n_ra"),
            F.col("xrobots").alias("_n_xr"),
            F.col("recover_after").alias("_n_rca"),
            F.col("recover_status").alias("_n_rcs"),
            F.col("rt").alias("_n_rt"),
            F.col("hdr").alias("_n_hdr"),
        )
        stepped = (
            moving.withColumn("chain", F.concat("chain", F.array(hop_entry)))
            .join(nxt, F.col("redirect") == F.col("_n_id"), "left")
        )
        loop = F.exists("chain", lambda c: c["url"] == F.col("redirect"))
        cur = stepped.select(
            "doc_id",
            F.coalesce("_n_id", F.col("redirect")).alias("cur_id"),
            F.coalesce("_n_status", F.lit(0)).alias("status"),
            F.coalesce("_n_ct", F.lit("")).alias("content_type"),
            F.coalesce("_n_size", F.lit(0)).alias("size"),
            F.coalesce("_n_redirect", F.lit("")).alias("redirect"),
            F.coalesce("_n_ra", F.lit("")).alias("retry_after"),
            F.coalesce("_n_xr", F.lit("")).alias("xrobots"),
            F.coalesce("_n_rca", F.lit(0)).alias("recover_after"),
            F.coalesce("_n_rcs", F.lit(0)).alias("recover_status"),
            (F.col("rt_total") + F.coalesce("_n_rt", F.lit(0.0))).alias("rt_total"),
            F.coalesce("_n_hdr", F.lit("")).alias("hdr"),
            "chain",
            F.when(F.col("_n_id").isNull(), F.lit("fetch failed"))
            .when(loop | (F.size("chain") > MAX_REDIRECTS), F.lit("too many redirects"))
            .otherwise(F.lit(None))
            .alias("error"),
        )
    if cur is not None:  # hop budget exhausted with rows still moving
        done_parts.append(
            cur.withColumn(
                "error", F.coalesce("error", F.lit("too many redirects"))
            )
        )

    resolved = done_parts[0]
    for p in done_parts[1:]:
        resolved = resolved.unionByName(p)

    # finalize chain (append final hop when history exists) + derived cols,
    # matching spandoc.resolve_fetch / crawler.py:1033-1052
    final_entry = F.struct(
        F.col("cur_id").alias("url"),
        F.col("status").alias("status_code"),
        (F.size("chain") + 1).alias("hop"),
        F.lit(True).alias("final"),
    )
    has_chain = (F.size("chain") > 0) & F.col("error").isNull()
    errored = F.col("error").isNotNull()
    return resolved.select(
        "doc_id",
        F.when(errored, F.lit(None)).otherwise(F.col("cur_id")).alias("final_doc_id"),
        F.when(errored, F.lit(0)).otherwise(F.col("status")).alias("status_code"),
        F.when(errored, F.lit("")).otherwise(F.col("content_type")).alias("content_type"),
        F.when(errored, F.lit(0)).otherwise(F.col("size")).alias("size"),
        F.col("retry_after"),
        F.when(errored, F.lit(0)).otherwise(F.col("recover_after")).alias("recover_after"),
        F.when(errored, F.lit(0)).otherwise(F.col("recover_status")).alias("recover_status"),
        F.when(errored, F.lit("")).otherwise(F.col("xrobots")).alias("x_robots_tag"),
        # crawler.py:1108/:1023 — errors produce create_empty_result shape
        F.when(errored, F.lit(0.0)).otherwise(F.col("rt_total")).alias("response_time"),
        F.when(errored, F.lit("")).otherwise(F.col("hdr")).alias("hdr"),
        F.when(errored | ~has_chain, F.col("chain"))
        .otherwise(F.concat("chain", F.array(final_entry)))
        .alias("redirect_chain"),
        "error",
    ).withColumn(
        "redirect_count",
        F.when(F.size("redirect_chain") > 0, F.size("redirect_chain") - 1).otherwise(0),
    ).withColumn(
        "redirects", F.expr("transform(redirect_chain, c -> c.url)")
    ).withColumn(
        "final_url",
        F.when(F.size("redirect_chain") > 0, F.col("final_doc_id")).otherwise(F.lit(None)),
    )


def join_fetch(frontier: DataFrame, fetch_map: DataFrame, documents: DataFrame) -> DataFrame:
    """frontier(url, depth, seq, wave) -> fetched rows with final spans.

    The sandbox stand-in for network I/O (SURVEY.md §2.1 S1/J10): an
    equi-join against the resolved fetch map, then against documents for
    the final body. A URL with no path fetches '/' (HTTP semantics).
    A miss models a connection error (status 0, crawler.py:1120)."""
    f = frontier.withColumn(
        "fetch_key",
        F.when(F.col("url").rlike("^https?://[^/]*$"), F.concat(F.col("url"), F.lit("/")))
        .otherwise(F.col("url")),
    )
    joined = f.join(fetch_map, f["fetch_key"] == fetch_map["doc_id"], "left").drop("doc_id")
    joined = joined.select(
        "url", "depth", "seq", "wave",
        F.coalesce("status_code", F.lit(0)).alias("status_code"),
        F.coalesce("content_type", F.lit("")).alias("content_type"),
        F.coalesce("size", F.lit(0)).alias("size"),
        F.coalesce("retry_after", F.lit("")).alias("retry_after"),
        F.coalesce("recover_after", F.lit(0)).alias("recover_after"),
        F.coalesce("recover_status", F.lit(0)).alias("recover_status"),
        F.coalesce("x_robots_tag", F.lit("")).alias("x_robots_tag"),
        F.coalesce("response_time", F.lit(0.0)).alias("response_time"),
        F.coalesce("hdr", F.lit("")).alias("hdr"),
        F.coalesce(
            "error",
            F.when(F.col("final_doc_id").isNull(), F.lit("fetch failed")),
        ).alias("error"),
        F.coalesce("redirect_count", F.lit(0)).alias("redirect_count"),
        F.coalesce("redirects", F.array().cast("array<string>")).alias("redirects"),
        F.coalesce(
            "redirect_chain", F.array().cast(f"array<struct<{CHAIN_STRUCT}>>")
        ).alias("redirect_chain"),
        "final_url",
        "final_doc_id",
    )
    return joined.join(
        documents.select(F.col("doc_id").alias("final_doc_id"), "spans"),
        "final_doc_id",
        "left",
    ).drop("final_doc_id")


def _backoff_wait(attempt_col, base_delay: float):
    """C14 (crawler.py:955-966): one attempt's wait =
    min(int(Retry-After) if parseable else base_delay * 2^attempt, 30)."""
    return F.least(
        F.coalesce(
            F.expr("try_cast(retry_after AS int)").cast("double"),
            F.lit(base_delay) * F.pow(F.lit(2.0), attempt_col),
        ),
        F.lit(30.0),
    )


def _backoff_total_expr(base_delay: float):
    """Total sleep across attempts 0..retry_count-1 (closed form of the
    reference's sequential loop), as a pure column expression."""
    return F.when(F.col("retry_count") <= 0, F.lit(0.0)).otherwise(
        F.aggregate(
            F.sequence(F.lit(0), F.col("retry_count") - 1),
            F.lit(0.0),
            lambda acc, a: acc + _backoff_wait(a.cast("double"), base_delay),
        )
    )


def apply_size_gate(fetched: DataFrame, max_file_size: int) -> DataFrame:
    """S2 (crawler.py:916-931): the HEAD content-length gate. Runs BEFORE
    the retry loop, sees the post-redirect size (HEAD follows redirects),
    and produces the reference's create_empty_result shape: status 0,
    size 0, error 'File too large: N bytes', no extraction, no links —
    but the page row IS recorded and consumes budget."""
    if max_file_size <= 0:
        return fetched
    too_big = F.col("error").isNull() & (F.col("size") > max_file_size)
    return fetched.select(
        *[
            c if c not in _GATED else _GATED[c](too_big)
            for c in fetched.columns
        ]
    )


_GATED = {
    "error": lambda g: F.when(
        g, F.concat(F.lit("File too large: "), F.col("size").cast("string"), F.lit(" bytes"))
    ).otherwise(F.col("error")).alias("error"),
    "status_code": lambda g: F.when(g, F.lit(0)).otherwise(F.col("status_code")).alias("status_code"),
    "content_type": lambda g: F.when(g, F.lit("")).otherwise(F.col("content_type")).alias("content_type"),
    "size": lambda g: F.when(g, F.lit(0)).otherwise(F.col("size")).alias("size"),
    "x_robots_tag": lambda g: F.when(g, F.lit("")).otherwise(F.col("x_robots_tag")).alias("x_robots_tag"),
    "redirect_count": lambda g: F.when(g, F.lit(0)).otherwise(F.col("redirect_count")).alias("redirect_count"),
    "redirects": lambda g: F.when(g, F.array().cast("array<string>")).otherwise(F.col("redirects")).alias("redirects"),
    "redirect_chain": lambda g: F.when(
        g, F.array().cast(f"array<struct<{CHAIN_STRUCT}>>")
    ).otherwise(F.col("redirect_chain")).alias("redirect_chain"),
    "final_url": lambda g: F.when(g, F.lit(None).cast("string")).otherwise(F.col("final_url")).alias("final_url"),
    "recover_after": lambda g: F.when(g, F.lit(0)).otherwise(F.col("recover_after")).alias("recover_after"),
    "response_time": lambda g: F.when(g, F.lit(0.0)).otherwise(F.col("response_time")).alias("response_time"),
    "hdr": lambda g: F.when(g, F.lit("")).otherwise(F.col("hdr")).alias("hdr"),
    "spans": lambda g: F.when(g, F.lit(None).cast(_SPANS_TYPE)).otherwise(F.col("spans")).alias("spans"),
}

_SPANS_TYPE = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"


def resolve_retries_inline(fetched: DataFrame, retries: int, base_delay: float) -> DataFrame:
    """S1/C14: closed-form per-row resolution of the
    reference's blocking retry loop (crawler.py:941-976). With the
    fixture's attempt-indexed recover_after field the loop outcome is a
    pure function of the row:

    - 429 that recovers within the retry budget -> recovered status,
      retry_count = recover_after
    - 429 that never recovers (or too late)     -> stays 429,
      retry_count = retries (the budget is exhausted, crawler.py:951-953)
    - anything else                              -> retry_count = 0

    backoff_total is the total simulated sleep (min(Retry-After or
    base*2^a, 30) summed over attempts) — observable in the reference as
    wall-clock, recorded here as a column. Order-preserving: the
    reference blocks its worker during backoff, so same-wave resolution
    reproduces its concurrency-1 crawl ordering exactly."""
    is_429 = F.col("error").isNull() & (F.col("status_code") == 429)
    recovers = (F.col("recover_after") > 0) & (F.col("recover_after") <= retries)
    rc = (
        F.when(is_429 & recovers, F.col("recover_after"))
        .when(is_429, F.lit(retries))
        .otherwise(F.lit(0))
    )
    status = F.when(is_429 & recovers, F.col("recover_status")).otherwise(F.col("status_code"))
    return (
        fetched.withColumn("retry_count", rc.cast("int"))
        .withColumn("status_code", status)
        .withColumn("backoff_total", _backoff_total_expr(base_delay))
        .drop("retry_after", "recover_after", "recover_status")
    )


def extract_pages(fetched: DataFrame, base_domain: str, *,
                  crawl_external: bool, max_depth: int) -> DataFrame:
    """One Arrow mapInPandas pass: page record + links + candidates.

    Gates transcribed from the reference per-URL pipeline:
    - parse only when content_type contains text/html (crawler.py:1055 —
      note: ANY status code with an HTML body parses, incl. 404/429)
    - collect_all_links for every parsed page (crawler.py:1084)
    - frontier candidates only when (is_internal or crawl_external) and
      depth < max_depth (crawler.py:1092-1100 extraction-gate quirk)
    """

    def run(batches):
        import pandas as pd

        from librecrawl_spark.functions import spandoc as S, urls as U

        # href-derivation memo shared across every page this worker
        # parses (bounded; see spandoc.extract_all) — nav/footer hrefs
        # repeat on every page of a host
        href_memo: dict = {}
        # PAGE_SCHEMA column order, inlined because StructType.fromDDL
        # needs a SparkContext and workers have none (asserted equal to
        # _page_fields() by tests/test_operators.py)
        names = PAGE_COLUMNS
        # page-dict keys in PAGE_SCHEMA order (title .. schema_org)
        pk = ("title", "meta_description", "h1", "h1_list",
              "headings_structure", "h2", "h3", "word_count",
              "canonical_url", "robots", "viewport", "images",
              "internal_links", "external_links", "hreflang",
              "json_ld_count", "json_ld", "schema_types", "ai_ready",
              "faq_count", "has_organization", "has_website",
              "article_fields_ok", "lang", "charset", "og_tags",
              "twitter_tags", "analytics", "schema_org")
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                url = r.url
                # Arrow hands spans as a sequence of dicts already —
                # iterate it directly, no per-span dict rebuild
                spans = r.spans if (r.spans is not None and r.error is None) else []
                is_html = "text/html" in (r.content_type or "")
                is_internal = (
                    U.is_internal(url, base_domain) if r.error is None else False
                )
                should_extract = (
                    (is_internal or crawl_external) and r.depth < max_depth
                )
                # fused single-pass walk (page + links + candidates);
                # equivalence to the oracle's three separate passes is
                # enforced by tests/test_crawl_e2e.py
                page, links, cands = S.extract_all(
                    url, spans if is_html else [], base_domain,
                    want_links=is_html,
                    want_cands=is_html and should_extract,
                    href_memo=href_memo,
                )
                # one tuple per row in exact PAGE_SCHEMA column order
                # (named-column frame below; ~2x cheaper to build than a
                # 50-key dict per row)
                rows.append((
                    url, r.depth, r.seq, r.wave,
                    r.status_code, r.content_type, r.size, is_internal,
                    r.retry_count, r.backoff_total,
                    r.error, r.redirect_count, list(r.redirects),
                    [dict(c) for c in r.redirect_chain], r.final_url,
                    *map(page.__getitem__, pk),
                    r.x_robots_tag if r.error is None else "",
                    r.response_time, S.headers_map(r.hdr),
                    page["links_data"], links, cands,
                ))
            yield pd.DataFrame(rows, columns=names)

    return fetched.mapInPandas(run, schema=PAGE_SCHEMA)


PAGE_COLUMNS = [
    "url", "depth", "seq", "wave", "status_code", "content_type", "size",
    "is_internal", "retry_count", "backoff_total", "error",
    "redirect_count", "redirects", "redirect_chain", "final_url", "title",
    "meta_description", "h1", "h1_list", "headings_structure", "h2", "h3",
    "word_count", "canonical_url", "robots", "viewport", "images",
    "internal_links", "external_links", "hreflang", "json_ld_count",
    "json_ld", "schema_types", "ai_ready", "faq_count", "has_organization",
    "has_website", "article_fields_ok", "lang", "charset", "og_tags",
    "twitter_tags", "analytics", "schema_org", "x_robots_tag",
    "response_time", "response_headers", "links_data", "links",
    "candidates",
]


def _page_fields():
    from pyspark.sql.types import StructType

    return StructType.fromDDL(PAGE_SCHEMA).fields
