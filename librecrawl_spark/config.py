"""Crawl configuration.

Field names and defaults mirror the reference's config dict
(crawler.py:85-165 defaults; single-page mode crawler.py:240-244) so a
LibreCrawl user can carry their settings over unchanged. Only settings
the package reads are fields (tests/test_config.py checks this).
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from urllib.parse import urlparse


@dataclass(frozen=True)
class CrawlConfig:
    max_depth: int = 3
    max_urls: int = 500
    delay: float = 2.0                      # crawler.py:116 (seconds between requests)
    retries: int = 3                        # crawler.py:942 (retries + 1 attempts)
    respect_robots: bool = True
    crawl_external: bool = False
    crawl_subdomains: bool = True
    discover_sitemaps: bool = True
    max_file_size: int = 0                  # bytes; 0 = unlimited (crawler.py:916-931)
    trap_threshold: int = 100               # link_manager.py TRAP_THRESHOLD
    enable_duplication_check: bool = True
    duplication_threshold: float = 0.85     # issue_detector.py:1299-1431
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
    # Engine-only knobs (no reference analogue — batch and scale controls):
    wave_seconds: float = 60.0              # politeness budget window per wave
    # storage maintenance cadence: every K committed waves, compact the
    # append tables (pages/links/sources) into a bounded file count and
    # expire unpinned snapshot manifests — without it a 10^5-wave crawl
    # accumulates 10^5 manifest generations and millions of small files.
    # 0 disables (tests that assert per-wave snapshot history use 0).
    maintenance_every_waves: int = 64
    host_salt_buckets: int = 16             # salted repartition fan-out for hot hosts

    def for_seed(self, seed_url: str) -> "CrawlConfig":
        """Single-page mode: seed with a non-root path => max_depth=0
        (crawler.py:240-244)."""
        parsed = urlparse(seed_url)
        if parsed.path and parsed.path not in ("/", ""):
            return replace(self, max_depth=0)
        return self

