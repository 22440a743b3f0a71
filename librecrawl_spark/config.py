"""Crawl configuration.

Field names and defaults mirror the reference's config dict
(/root/reference/src/crawler.py:85-165 defaults; polite-mode overrides
crawler.py:318-323; single-page mode crawler.py:240-244) so a LibreCrawl
user can carry their settings over unchanged.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from urllib.parse import urlparse


@dataclass(frozen=True)
class CrawlConfig:
    max_depth: int = 3
    max_urls: int = 500
    delay: float = 2.0                      # crawler.py:116 (seconds between requests)
    timeout: float = 10.0
    concurrency: int = 3                    # crawler.py:132
    retries: int = 3                        # crawler.py:942 (retries + 1 attempts)
    follow_redirects: bool = True
    respect_robots: bool = True
    crawl_external: bool = False
    crawl_subdomains: bool = True
    discover_sitemaps: bool = True
    max_file_size: int = 0                  # bytes; 0 = unlimited (crawler.py:916-931)
    trap_threshold: int = 100               # link_manager.py TRAP_THRESHOLD
    polite_mode: bool = False
    enable_duplication_check: bool = True
    duplication_threshold: float = 0.85     # issue_detector.py:1299-1431
    # J7 blocking: "auto" = exact lossless band join below
    # issues.AUTO_MINHASH_MIN_PAGES pages, MinHash OR-band above;
    # "exact" / "minhash" force a path
    duplicate_blocking: str = "auto"
    user_agent: str = "LibreCrawlSpark/0.1"
    include_extensions: tuple[str, ...] = ()
    exclude_extensions: tuple[str, ...] = (
        # crawler.py default binary/asset extension excludes (subset; crawler.py:120-128)
        "jpg", "jpeg", "png", "gif", "svg", "webp", "ico", "css", "js",
        "zip", "tar", "gz", "rar", "7z", "pdf", "doc", "docx", "xls",
        "xlsx", "ppt", "pptx", "mp3", "mp4", "avi", "mov", "wmv", "flv",
        "exe", "dmg", "woff", "woff2", "ttf", "eot",
    )
    include_patterns: tuple[str, ...] = ()
    exclude_patterns: tuple[str, ...] = ()
    issue_exclusion_patterns: tuple[str, ...] = ()
    # Engine-only knobs (no reference analogue — scale controls):
    # retry_mode: how the reference's blocking 429 retry loop
    # (crawler.py:941-976) is re-expressed in the batch engine.
    #  - "inline": closed-form per-row resolution in the same wave. The
    #    reference blocks its concurrency-1 worker during backoff, so
    #    inline resolution reproduces its crawl ordering EXACTLY.
    #  - "requeue": 429 rows re-enter the frontier with retry_count+1 and
    #    become eligible at wave + ceil(backoff/wave_seconds) — the
    #    scale-true design when waves model wall-clock (a host genuinely
    #    recovering between waves); crawl ordering of retried rows shifts
    #    to their recovery wave.
    retry_mode: str = "inline"
    wave_seconds: float = 60.0              # politeness budget window per wave
    # storage maintenance cadence: every K committed waves, compact the
    # append tables (pages/links/sources) into a bounded file count and
    # expire unpinned snapshot manifests — without it a 10^5-wave crawl
    # accumulates 10^5 manifest generations and millions of small files.
    # 0 disables (tests that assert per-wave snapshot history use 0).
    maintenance_every_waves: int = 64
    host_salt_buckets: int = 16             # salted repartition fan-out for hot hosts

    def polite(self) -> "CrawlConfig":
        """Polite-mode overrides (crawler.py:318-323)."""
        return replace(self, delay=7.0, concurrency=1, retries=5)

    def for_seed(self, seed_url: str) -> "CrawlConfig":
        """Single-page mode: seed with a non-root path => max_depth=0
        (crawler.py:240-244)."""
        parsed = urlparse(seed_url)
        if parsed.path and parsed.path not in ("/", ""):
            return replace(self, max_depth=0)
        return self

    @property
    def requests_per_second(self) -> float:
        """crawler.py:326-331 — rate = 1/delay, 100 req/s when delay=0."""
        return 1.0 / self.delay if self.delay > 0 else 100.0
