"""Every CrawlConfig field is read by the package.

A field nothing reads is a setting that silently does nothing. The
check is static (no Spark): each field name must appear as an attribute
read (``<expr>.name``) in some module of ``librecrawl_spark/`` other
than ``config.py`` itself.
"""

import ast
import dataclasses
from pathlib import Path

from librecrawl_spark.config import CrawlConfig

PKG = Path(__file__).resolve().parent.parent / "librecrawl_spark"


def _attribute_reads() -> set[str]:
    names = set()
    for path in PKG.rglob("*.py"):
        if path == PKG / "config.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                names.add(node.attr)
    return names


def test_every_config_field_is_read():
    reads = _attribute_reads()
    unread = [f.name for f in dataclasses.fields(CrawlConfig) if f.name not in reads]
    assert not unread, f"CrawlConfig fields no module reads: {unread}"
