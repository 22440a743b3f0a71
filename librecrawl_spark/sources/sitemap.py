"""Sitemap discovery + parsing (SURVEY.md §2.1 S5/S6).

The reference probes well-known sitemap paths + robots ``Sitemap:``
lines (sitemap_parser.py:15-66) and recursively parses sitemap indexes
(:68-148). Here:

- ``recursive_locs``: the crawl's sitemap bootstrap. Like the
  reference, it parses the sitemap tree once, on one thread (the
  driver), depth-first, page URLs in document order; the reference
  oracle carries an independent transcription of the same parse.
- ``sitemap_urls_from_robots``: native line-split + filter over the
  hosts table.
- ``parse_sitemaps`` / ``discover_sitemap_page_urls``: the unordered
  table form. An Arrow pandas UDF wraps xml.etree per sitemap body (XML
  parsing has no Spark builtin), exploding <loc> entries; recursion over
  <sitemapindex> is an iterative join against a (sitemap_url -> xml)
  body table, bounded at max_depth=10 like the reference (:80).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

MAX_SITEMAP_DEPTH = 10  # sitemap_parser.py:80


def recursive_locs(body: str | None, body_lookup: dict | None = None,
                   depth: int = 1, max_depth: int = MAX_SITEMAP_DEPTH) -> list[str]:
    """Driver-side recursive sitemap parse, transcribing
    sitemap_parser._parse_sitemap (sitemap_parser.py:68-148) exactly:
    depth-first, nested <sitemapindex> entries resolved through
    ``body_lookup`` (sitemap_url -> xml) BEFORE the document's own <url>
    entries, recursion bounded at max_depth. The engine's only sitemap
    bootstrap (CrawlEngine._bootstrap_urls) and the oracle's."""
    import xml.etree.ElementTree as ET

    if depth > max_depth or not body:
        return []
    try:
        root = ET.fromstring(body)
    except ET.ParseError:
        return []
    for elem in root.iter():  # strip namespaces (sitemap_parser.py:117-119)
        if "}" in elem.tag:
            elem.tag = elem.tag.split("}")[1]
    urls: list[str] = []
    for sm in root.findall(".//sitemap"):
        loc = sm.find("loc")
        if loc is not None and loc.text:
            nested_body = (body_lookup or {}).get(loc.text.strip())
            urls.extend(recursive_locs(nested_body, body_lookup, depth + 1, max_depth))
    for u in root.findall(".//url"):
        loc = u.find("loc")
        if loc is not None and loc.text:
            urls.append(loc.text.strip())
    return urls


def sitemap_urls_from_robots(hosts: DataFrame) -> DataFrame:
    """Extract ``Sitemap:`` declarations from robots.txt bodies
    (sitemap_parser.py:49-66) — pure native split/explode/filter."""
    return (
        hosts.select("host", F.explode(F.split("robots_txt", "\n")).alias("line"))
        .filter(F.lower(F.trim("line")).startswith("sitemap:"))
        .select(
            "host",
            F.trim(F.expr("substring(trim(line), 9, length(line))")).alias("sitemap_url"),
        )
    )


def _parse_batch(iterator):
    """Parse sitemap XML bodies -> (host, kind, loc) rows."""
    import gzip
    import xml.etree.ElementTree as ET

    import pandas as pd

    def parse_one(host, body):
        rows = []
        if body is None:
            return rows
        if isinstance(body, (bytes, bytearray)):
            if bytes(body[:2]) == b"\x1f\x8b":
                body = gzip.decompress(bytes(body))
            body = body.decode("utf-8", "replace")
        try:
            root = ET.fromstring(body)
        except ET.ParseError:
            return rows
        tag = root.tag.split("}")[-1]
        kind = "index" if tag == "sitemapindex" else "urlset"
        for el in root.iter():
            if el.tag.split("}")[-1] == "loc" and el.text:
                rows.append({"host": host, "kind": kind, "loc": el.text.strip()})
        return rows

    for pdf in iterator:
        out = []
        for r in pdf.itertuples(index=False):
            out.extend(parse_one(r.host, r.sitemap_xml))
        yield pd.DataFrame(out) if out else pd.DataFrame(
            columns=["host", "kind", "loc"]
        )


def parse_sitemaps(sitemap_bodies: DataFrame) -> DataFrame:
    """sitemap_bodies(host, sitemap_xml) -> (host, kind, loc).
    ``kind='index'`` rows are nested sitemap references; ``urlset`` rows
    are page URLs (sitemap_parser.py:84-148)."""
    return sitemap_bodies.select("host", "sitemap_xml").mapInPandas(
        _parse_batch, schema="host string, kind string, loc string"
    )


def discover_sitemap_page_urls(hosts: DataFrame,
                               body_lookup: DataFrame | None = None) -> DataFrame:
    """Full recursive discovery: parse each host's sitemap; follow
    ``sitemapindex`` references through ``body_lookup(sitemap_url,
    sitemap_xml)`` up to MAX_SITEMAP_DEPTH; return distinct page URLs per
    host in first-seen order (U1 dedup, crawler.py:366)."""
    # eager localCheckpoint per round: the isEmpty() probe and the later
    # unions would otherwise re-run the Arrow XML parse of every prior
    # round on each loop test (O(depth^2) parse work); checkpointing
    # parses each sitemap body exactly once and keeps the loop's plan
    # depth constant.
    parsed = parse_sitemaps(
        hosts.select("host", "sitemap_xml")).localCheckpoint(eager=True)
    pages = parsed.filter(F.col("kind") == "urlset").select("host", F.col("loc").alias("url"))
    nested = parsed.filter(F.col("kind") == "index").select(
        "host", F.col("loc").alias("sitemap_url")
    )
    depth = 0
    while body_lookup is not None and depth < MAX_SITEMAP_DEPTH and not nested.isEmpty():
        bodies = nested.join(body_lookup, "sitemap_url").select("host", "sitemap_xml")
        parsed = parse_sitemaps(bodies).localCheckpoint(eager=True)
        pages = pages.unionByName(
            parsed.filter(F.col("kind") == "urlset").select("host", F.col("loc").alias("url"))
        )
        nested = parsed.filter(F.col("kind") == "index").select(
            "host", F.col("loc").alias("sitemap_url")
        )
        depth += 1
    return pages.dropDuplicates(["host", "url"])

