"""Unit tests for the pure policy layer (reference-invariant parity).

Mirrors the behavioral tests of the reference suite
(/root/reference/tests/test_crawl.py) for URL validity, exclusion
anchoring, canonicalization, link extraction, error classification, and
backoff.
"""

from par_scrape_spark import policy


class TestValidity:
    def test_valid(self):
        assert policy.is_valid_url("http://example.com")
        assert policy.is_valid_url("https://example.com/path?q=1")

    def test_invalid(self):
        assert not policy.is_valid_url("ftp://example.com")
        assert not policy.is_valid_url("example.com")
        assert not policy.is_valid_url("http://")
        assert not policy.is_valid_url("")

    def test_host_must_be_path_safe(self):
        # the host becomes an artifact path segment (<run>/<host>/...):
        # traversal and non-[A-Za-z0-9.-] hosts never enter the frontier
        for url in [
            "http://../x",
            "http://a..b.example/x",
            "http://user@../x",
            "http://..:8080/x",
            "http://%2e%2e/x",
            "http://a_b.example/",
            "http://a\\b.example/x",
            "http://[::1]/x",
            "http://user@/x",
            "http://:8080/x",
        ]:
            assert not policy.is_valid_url(url), url
        # userinfo and port are stripped before the check
        assert policy.is_valid_url("http://user:pw@site-00001.example:8080/x")
        assert policy.is_valid_url("HTTP://Example.COM/A")
        # discovered links pass through the same check
        html = '<a href="http://../x">a</a><a href="/ok">b</a>'
        assert policy.extract_links("http://../", html) == []


class TestCanonicalize:
    def test_lowercase_and_ports(self):
        assert (
            policy.canonicalize_url("HTTP://Example.COM:80/A/b/")
            == "http://example.com/A/b"
        )
        assert (
            policy.canonicalize_url("https://x.com:443/p") == "https://x.com/p"
        )
        assert (
            policy.canonicalize_url("https://x.com:8443/p")
            == "https://x.com:8443/p"
        )

    def test_fragment_dropped_query_kept(self):
        assert (
            policy.canonicalize_url("http://x.com/a?b=1#frag")
            == "http://x.com/a?b=1"
        )

    def test_trailing_slash(self):
        assert policy.canonicalize_url("http://x.com/") == "http://x.com"
        assert policy.canonicalize_url("http://x.com/a/") == "http://x.com/a"

    def test_idempotent(self):
        for u in [
            "http://x.com/a/b?q=2",
            "https://user:pw@x.com:8080/z",
            "http://x.com",
        ]:
            once = policy.canonicalize_url(u)
            assert policy.canonicalize_url(once) == once


class TestExclusion:
    def test_segment_anchoring(self):
        # /feed matches /feed and /blog/feed but not /feedback
        # (reference links.py:74-77, tests/test_crawl.py:166-177)
        assert policy.should_exclude_url("http://x.com/feed")
        assert policy.should_exclude_url("http://x.com/blog/feed")
        assert policy.should_exclude_url("http://x.com/feed/page")
        assert not policy.should_exclude_url("http://x.com/feedback")
        assert not policy.should_exclude_url("http://x.com/feedstore")

    def test_extensions(self):
        assert policy.should_exclude_url("http://x.com/img.PNG")
        assert policy.should_exclude_url("http://x.com/a/b.tar.gz")
        assert not policy.should_exclude_url("http://x.com/page")

    def test_all_patterns(self):
        for p in policy.EXCLUDED_URL_PATTERNS:
            assert policy.should_exclude_url(f"http://x.com{p}"), p


class TestExtractLinks:
    HTML = (
        '<a href="/b">x</a><a href="javascript:void(0)">j</a>'
        '<a href="mailto:a@b">m</a><a href="tel:1">t</a>'
        '<a href="#top">anchor</a><a href="http://other.com/c">off</a>'
        '<a href="/b">dup</a><a href="/login">l</a>'
        '<a href="/x.png">img</a><a href="/ok/page/">ok</a>'
    )

    def test_filters_and_order(self):
        links = policy.extract_links("http://a.com/p", self.HTML)
        assert links == ["http://a.com/b", "http://a.com/p", "http://a.com/ok/page"]
        # /p appears because '#top' resolves to the page itself and the
        # fragment-only skip requires an empty path — reference parity
        # (links.py:131-135)

    def test_single_page(self):
        assert policy.extract_links("http://a.com/p", self.HTML, "single_page") == []

    def test_root_anchor_skipped(self):
        links = policy.extract_links("http://a.com", '<a href="#x">y</a>')
        assert links == []


class TestClassify:
    def test_keywords(self):
        f = policy.classify_error_message
        assert f("Request timed out after 10s") == "timeout"
        assert f("connection refused") == "network"
        assert f("robots.txt disallowed this") == "robots_disallowed"
        assert f("could not parse html") == "parsing"
        assert f("bad scheme") == "invalid_url"
        assert f("No data was fetched") == "other"
        assert f("Next.js client-side application error page detected") == "other"


class TestBackoff:
    def test_double_and_cap(self):
        # reference tests/test_crawl.py:468-480
        assert policy.backoff_delay(1) == 2
        assert policy.backoff_delay(2) == 4
        assert policy.backoff_delay(16) == 30
        assert policy.backoff_delay(30) == 30


class TestRobots:
    RULES = "User-agent: *\nDisallow: /private\n"

    def test_disallow(self):
        assert not policy.robots_allows(self.RULES, False, "http://x.com/private/a")
        assert policy.robots_allows(self.RULES, False, "http://x.com/public")

    def test_fail_open(self):
        assert policy.robots_allows(None, True, "http://x.com/private/a")
        assert policy.robots_allows("", False, "http://x.com/anything")
