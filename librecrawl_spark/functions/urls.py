"""Pure-Python URL semantics — the single source of truth shared by the
reference-transcription oracle (tests) and the Arrow pandas UDFs (engine).

Each function transcribes the observable behaviour of a reference
function (cited per-function); the engine and the oracle MUST call the
same code so equivalence tests compare scheduling/dedup logic, not URL
parsing quirks.
"""

from __future__ import annotations

import re
from urllib.parse import urljoin, urlparse

_UUID_RE = re.compile(r"[a-f0-9]{8}-[a-f0-9]{4}-[a-f0-9]{4}-[a-f0-9]{4}-[a-f0-9]{12}")
_DIGITS_RE = re.compile(r"\d+")


def reference_clean(href: str, current_url: str) -> str:
    """Absolutize + strip fragment, keep query verbatim.

    Exact transcription of /root/reference/src/core/link_manager.py:62-68:
    ``urljoin`` then rebuild as scheme://netloc+path[?query]. The host is
    NOT lowercased and query keys are NOT sorted — that is the *stored*
    URL contract the reference uses for its seen-set and outputs.
    """
    absolute = urljoin(current_url, href)
    parsed = urlparse(absolute)
    clean = f"{parsed.scheme}://{parsed.netloc}{parsed.path}"
    if parsed.query:
        clean += f"?{parsed.query}"
    return clean


def url_signature(url: str) -> str:
    """Trap-detection signature.

    Exact transcription of link_manager.py:27-41 (``_get_url_signature``):
    path only; digits -> literal ``\\d+`` FIRST, then the simplistic UUID
    regex (which therefore only fires on digit-free hex runs, faithfully
    reproducing the reference's ordering quirk).
    """
    try:
        path = urlparse(url).path
        path = _DIGITS_RE.sub(r"\\d+", path)
        path = _UUID_RE.sub(r"\\uuid", path)
        return path
    except Exception:
        return url


def strip_www(host: str) -> str:
    """``replace('www.', '', 1)`` as used by link_manager.py:239 —
    note: removes the FIRST occurrence anywhere, faithful to the reference."""
    return host.replace("www.", "", 1)


def is_internal(url: str, base_domain: str) -> bool:
    """link_manager.py:234-239 — www-insensitive exact host equality."""
    return strip_www(urlparse(url).netloc) == strip_www(base_domain)


def determine_scope(url: str, base_domain: str) -> str:
    """link_manager.py:297-314 — root / sub / external.

    NB the reference uses ``replace('www.', '')`` (all occurrences) here,
    unlike is_internal's count=1 replace; transcribed faithfully.
    """
    url_domain = urlparse(url).netloc
    base_clean = base_domain.replace("www.", "")
    url_clean = url_domain.replace("www.", "")
    if url_clean == base_clean:
        return "root"
    elif url_clean.endswith("." + base_clean):
        return "sub"
    return "external"


def is_special_href(href: str) -> bool:
    """link_manager.py:57-59 — skip '', '#…', mailto:, tel:."""
    return (
        not href
        or href.startswith("#")
        or href.startswith("mailto:")
        or href.startswith("tel:")
    )


def path_extension(url: str) -> str | None:
    """crawler.py:1466-1470 — ``path.split('.')[-1]`` of the lowercased
    path IF the path contains a dot (quirk: the dot may be mid-path)."""
    path = urlparse(url).path.lower()
    if "." in path:
        return path.split(".")[-1]
    return None


def normalize_for_compare(url: str) -> str:
    """issue_detector.py:61-86 — lowercase whole URL, strip fragment,
    strip trailing slash (except root), keep query."""
    if not url:
        return ""
    u = url.strip().lower()
    u = u.split("#")[0]
    parsed = urlparse(u)
    path = parsed.path
    if path.endswith("/") and path != "/":
        path = path[:-1]
    out = f"{parsed.scheme}://{parsed.netloc}{path}"
    if parsed.query:
        out += f"?{parsed.query}"
    return out


def should_crawl(
    url: str,
    base_domain: str,
    *,
    crawl_external: bool,
    crawl_subdomains: bool,
    include_extensions: tuple[str, ...],
    exclude_extensions: tuple[str, ...],
    include_patterns: tuple[str, ...],
    exclude_patterns: tuple[str, ...],
    robots_allows=None,
) -> bool:
    """Policy gate — transcription of crawler.py:1425-1492
    (``_should_crawl_url``), in the reference's exact check order:
    domain scope -> robots -> extension -> patterns.

    ``robots_allows``: callable(url) -> bool, or None when
    respect_robots is off.
    """
    if is_internal(url, base_domain):
        pass
    elif urlparse(url).netloc.endswith("." + base_domain.replace("www.", "")):
        if not crawl_subdomains:
            return False
    else:
        if not crawl_external:
            return False

    if robots_allows is not None and not robots_allows(url):
        return False

    ext = path_extension(url)
    if ext is not None:
        if ext in exclude_extensions:
            return False
        if include_extensions and ext not in include_extensions:
            return False

    for pattern in exclude_patterns:
        if pattern and re.search(pattern, url):
            return False
    if include_patterns:
        if not any(pattern and re.search(pattern, url) for pattern in include_patterns):
            return False
    return True
