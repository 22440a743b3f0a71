"""Unit tests for URL semantics vs hand-transcribed reference behaviour
(/root/reference/src/core/link_manager.py, src/crawler.py)."""

import pytest

from librecrawl_spark.functions import urls as U


class TestReferenceClean:
    # link_manager.py:62-68 semantics
    @pytest.mark.parametrize(
        "href,current,expected",
        [
            ("/a/b", "https://x.example/page", "https://x.example/a/b"),
            ("b", "https://x.example/a/page", "https://x.example/a/b"),
            ("https://y.example/p#frag", "https://x.example/", "https://y.example/p"),
            ("/p?q=1&utm_source=z#f", "https://x.example/", "https://x.example/p?q=1&utm_source=z"),
            ("//cdn.example/p", "https://x.example/", "https://cdn.example/p"),
            ("https://UPPER.example/Path", "https://x.example/", "https://UPPER.example/Path"),
        ],
    )
    def test_cases(self, href, current, expected):
        assert U.reference_clean(href, current) == expected

    def test_keeps_query_order(self):
        # reference does NOT sort query keys
        assert U.reference_clean("/p?b=2&a=1", "https://x.example/").endswith("?b=2&a=1")


class TestSignature:
    def test_digits(self):
        assert U.url_signature("https://x.example/p/123/q/4") == "/p/\\d+/q/\\d+"

    def test_uuid_after_digits_quirk(self):
        # digits are replaced FIRST (link_manager.py:33-37), so hex UUIDs
        # containing digits never match the uuid regex — faithful quirk.
        sig = U.url_signature("https://x.example/u/a1b2c3d4-ab12-cd34-ef56-a1b2c3d4e5f6")
        assert "\\d+" in sig and "\\uuid" not in sig

    def test_pure_letter_uuid(self):
        sig = U.url_signature("https://x.example/u/abcdefab-abcd-abcd-abcd-abcdefabcdef")
        assert sig == "/u/\\uuid"


class TestScope:
    def test_root_sub_external(self):
        assert U.determine_scope("https://x.example/p", "x.example") == "root"
        assert U.determine_scope("https://www.x.example/p", "x.example") == "root"
        assert U.determine_scope("https://blog.x.example/p", "x.example") == "sub"
        assert U.determine_scope("https://y.example/p", "x.example") == "external"

    def test_is_internal_www(self):
        assert U.is_internal("https://www.x.example/p", "x.example")
        assert not U.is_internal("https://blog.x.example/p", "x.example")


class TestPolicy:
    def kw(self, **over):
        base = dict(
            crawl_external=False, crawl_subdomains=True,
            include_extensions=(), exclude_extensions=("pdf", "jpg"),
            include_patterns=(), exclude_patterns=(), robots_allows=None,
        )
        base.update(over)
        return base

    def test_external_gate(self):
        assert not U.should_crawl("https://y.example/p", "x.example", **self.kw())
        assert U.should_crawl("https://y.example/p", "x.example", **self.kw(crawl_external=True))

    def test_subdomain_gate(self):
        assert U.should_crawl("https://b.x.example/p", "x.example", **self.kw())
        assert not U.should_crawl(
            "https://b.x.example/p", "x.example", **self.kw(crawl_subdomains=False)
        )

    def test_extension_quirk_mid_path_dot(self):
        # crawler.py:1466-1470: extension = path.split('.')[-1] — a dot
        # anywhere in the path triggers the check
        assert not U.should_crawl("https://x.example/a/file.pdf", "x.example", **self.kw())
        assert U.path_extension("https://x.example/v1.2/page") == "2/page"

    def test_patterns(self):
        assert not U.should_crawl(
            "https://x.example/admin/p", "x.example", **self.kw(exclude_patterns=("/admin/",))
        )
        assert not U.should_crawl(
            "https://x.example/other", "x.example", **self.kw(include_patterns=("/blog/",))
        )

    def test_special_href(self):
        assert U.is_special_href("")
        assert U.is_special_href("#top")
        assert U.is_special_href("mailto:a@b")
        assert U.is_special_href("tel:+1")
        assert not U.is_special_href("javascript:void(0)")  # NOT special in F1 (only in counts)


class TestNormalizeForCompare:
    def test_cases(self):
        assert U.normalize_for_compare("HTTPS://X.Example/P/#f") == "https://x.example/p"
        assert U.normalize_for_compare("https://x.example/") == "https://x.example/"
        assert U.normalize_for_compare("https://x.example/p/?q=1") == "https://x.example/p?q=1"


class TestWordCountRegex:
    def test_plain_run_scan_equals_boundary_pattern(self):
        """_WORD_RE was changed from \\b\\w+\\b to \\w+ for speed; the two
        must match the SAME token list on any input (a maximal \\w+ run
        always starts/ends on a boundary; \\b\\w+\\b can't match a
        partial run). Guards the reference word_count semantics
        (seo_extractor word counting)."""
        import random
        import re
        import string

        from librecrawl_spark.functions.spandoc import _WORD_RE

        boundary = re.compile(r"\b\w+\b")
        rng = random.Random(42)
        alphabet = string.printable + "éümß漢字_ —"
        for _ in range(500):
            s = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 300)))
            assert _WORD_RE.findall(s) == boundary.findall(s)
        assert _WORD_RE.findall("a_b-c.d e") == ["a_b", "c", "d", "e"]
