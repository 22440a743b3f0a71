"""Seeded input generators. Everything here runs before timing starts and
depends only on (workload, seed, scale); the program under test receives
only what these functions produce."""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from librecrawl_spark.config import CrawlConfig
from librecrawl_spark.fixtures.sitegen import SiteGenConfig, generate_site, http_span


# ---------------------------------------------------------------- wave_bulk
@dataclass(frozen=True)
class WaveSize:
    docs: int            # fetched pages in the wave
    anchors: int         # anchors per page
    hosts: int           # hosts in the hosts table (host 0 is hot)
    seen: int            # rows already in the seen set


WAVE_SIZES = {
    "full": WaveSize(docs=12_000, anchors=20, hosts=1_000, seen=1_500_000),
    "tiny": WaveSize(docs=300, anchors=20, hosts=20, seen=2_000),
}

# the wave's policy: crawl every host, obey robots, steady state (no
# signature crosses the trap threshold), politeness window of one minute
WAVE_CONFIG = CrawlConfig(trap_threshold=1_000_000_000, crawl_external=True,
                          respect_robots=True, wave_seconds=60.0, max_depth=3)
WAVE_BASE_DOMAIN = "h0.example"

# anchor kinds and their shares; every kind takes a distinct path through
# extraction (special hrefs are skipped, fragments stripped, relative
# hrefs absolutized) or the policy gate (robots, excluded extension)
_KINDS = ("abs", "rel", "frag", "special", "pdf", "private", "self")
_SHARES = (0.74, 0.08, 0.05, 0.03, 0.03, 0.05, 0.02)


def _host_ids(ids: np.ndarray, n_hosts: int, mult: int) -> np.ndarray:
    """Host of an id: one in five ids sits on the hot host 0, the rest
    spread over the other hosts."""
    return np.where(ids % 5 == 0, 0, 1 + (ids * mult) % max(n_hosts - 1, 1))


def _urls(hosts: np.ndarray, middle: str, ids: np.ndarray) -> pa.Array:
    """``https://h<host>.example<middle><id>`` for each (host, id) pair."""
    return pc.binary_join_element_wise(
        "https://h", pa.array(hosts).cast(pa.string()),
        ".example" + middle, pa.array(ids).cast(pa.string()), "")


def _href(kind: str, host: int, target: int, page_url: str) -> str:
    if kind == "rel":
        return f"/r/{target}"
    if kind == "special":
        return "mailto:team@h0.example"
    if kind == "self":
        return page_url
    url = f"https://h{host}.example"
    if kind == "pdf":
        return f"{url}/f/{target}.pdf"
    if kind == "private":
        return f"{url}/private/{target}"
    return f"{url}/p/{target}" + ("#section" if kind == "frag" else "")


def generate_wave(seed: int, size: WaveSize, out_dir: str) -> dict:
    """Write the wave's inputs as parquet and return their paths:
    documents (doc_id, spans), frontier (url, depth, seq, wave), seen
    (url) and hosts (host, robots_txt, crawl_delay)."""
    rng = np.random.default_rng(seed)
    d, a = size.docs, size.anchors
    os.makedirs(out_dir, exist_ok=True)

    doc_ids = np.arange(d, dtype=np.int64)
    doc_urls = _urls(_host_ids(doc_ids + int(rng.integers(0, 5)), size.hosts, 104_729),
                     "/d/", doc_ids)
    page_urls = doc_urls.to_pylist()

    # absolute targets come from a universe half the size of the
    # occurrence count, so about half of them repeat an earlier one
    universe = max(d * a // 2, 1)
    targets = rng.integers(0, universe, d * a, dtype=np.int64)
    kinds = rng.choice(len(_KINDS), size=d * a, p=_SHARES)
    hrefs = [
        _href(_KINDS[k], h, t, page_urls[j // a])
        for j, (k, h, t) in enumerate(zip(kinds.tolist(),
                                          _host_ids(targets, size.hosts, 7_919).tolist(),
                                          targets.tolist()))
    ]

    # spans per document: http, title, h1, body text, then the anchors
    head = ("http", "title", "h1", "text")
    http_text = http_span(200, "text/html", 2_000)["text"]
    words = rng.integers(20, 60, d).tolist()
    kind_col, text_col, ref_col = [], [], []
    for i in range(d):
        kind_col += head
        text_col += (http_text, f"Page {i}", "Heading", " ".join(["alpha beta gamma delta"] * words[i]))
        ref_col += ("",) * len(head)
        kind_col += ("anchor",) * a
        text_col += ("link\x1fbody\x1f\x1f",) * a
        ref_col += hrefs[i * a:(i + 1) * a]
    per_doc = len(head) + a
    spans = pa.StructArray.from_arrays(
        [pa.array(kind_col, pa.string()), pa.array(text_col, pa.string()),
         pa.array(ref_col, pa.string()), pa.array(np.zeros(d * per_doc, np.int32))],
        names=["kind", "text", "media_ref", "offset"])
    docs = pa.table({
        "doc_id": doc_urls,
        "spans": pa.ListArray.from_arrays(
            pa.array(np.arange(d + 1, dtype=np.int32) * per_doc), spans),
    })
    frontier = pa.table({
        "url": doc_urls,
        "depth": pa.array(np.zeros(d, np.int32)),
        "seq": pa.array(doc_ids),
        "wave": pa.array(np.zeros(d, np.int32)),
    })
    # seen set: distinct ids drawn from a range at least twice the target
    # universe, so a share of the distinct targets is already known
    seen_ids = rng.choice(max(2 * universe, 2 * size.seen), size=size.seen, replace=False)
    seen = pa.table({"url": _urls(_host_ids(seen_ids, size.hosts, 7_919), "/p/", seen_ids)})
    hid = np.arange(size.hosts)
    delay = (hid % 4).tolist()
    robots = [("User-agent: *\nAllow: /\n" if h % 3 == 0
               else "User-agent: *\nDisallow: /private/\n") + f"Crawl-delay: {c}"
              for h, c in zip(hid.tolist(), delay)]
    hosts = pa.table({
        "host": [f"h{h}.example" for h in hid.tolist()],
        "robots_txt": robots,
        "crawl_delay": pa.array(delay, pa.float64()),
    })
    paths = {}
    for name, table in (("documents", docs), ("frontier", frontier),
                        ("seen", seen), ("hosts", hosts)):
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths


# ------------------------------------------------------------ crawl_resume
@dataclass(frozen=True)
class CrawlSize:
    site: dict           # SiteGenConfig fields besides the seed
    max_depth: int


CRAWL_SIZES = {
    # two waves (depth 0 and 1, 44-51 pages over seeds 41-46): each wave
    # costs ~15 s of fixed Spark work on 4 cores, twice that on a loaded
    # host, and a run must end within 180 s. Every engine run parses all
    # the site's documents, so the site is no wider.
    "full": CrawlSize(site=dict(n_hosts=20, pages_base_host=1500, pages_other_host=8,
                                fanout=24, trap_pages=60), max_depth=1),
    "tiny": CrawlSize(site=dict(n_hosts=3, pages_base_host=12, pages_other_host=4,
                                fanout=4, trap_pages=12), max_depth=1),
}


def crawl_config(size: CrawlSize) -> CrawlConfig:
    """Sitemap discovery on, a trap threshold low enough that the trap
    section crosses it. Storage maintenance keeps its default cadence,
    so it never runs in two waves: a resumed leg whose first wave runs
    maintenance fails (Spark FileNotExist: expiry deletes the pending
    files read back at resume while that wave's leftover frontier still
    scans them), and with two waves that is the only place it could run.
    The duplicate-content check is off: the engine's similarity differs
    from the reference's for some page pairs (difflib's ratio depends on
    argument order), which would fail the issue-report check."""
    return CrawlConfig(max_depth=size.max_depth, max_urls=1_000_000,
                       discover_sitemaps=True, trap_threshold=10,
                       enable_duplication_check=False)


def generate_crawl_site(seed: int, size: CrawlSize):
    return generate_site(SiteGenConfig(seed=seed, **size.site))
