"""Pure-Python crawl policy: the single source of truth for row semantics.

These functions define the *canonical* behavior of URL validation,
canonicalization, exclusion filtering, link extraction, and error
classification. They are deliberately dependency-free and deterministic so
the exact same code runs in three places:

1. inside the engine's vectorized pandas UDFs (functions/, operators/),
2. inside the reference-policy simulator (simulator.py) used by the
   crawl-ordering / seen-set bit-for-bit equivalence tests, and
3. directly in unit tests.

Behavioral parity targets in the reference (studied, not copied):
- URL validity: /root/reference/src/par_scrape/links.py:37-52
- exclusion filters: links.py:55-80 (extension list links.py:69-71,
  segment-anchored patterns links.py:15-34,74-77)
- link extraction pipeline: links.py:83-165 (scheme-prefix skip :119-120,
  urljoin :123, fragment-only skip :131-135, same-host gate :138-140)
- canonical key: ``normalize_url(url.rstrip("/"))`` at queue_db.py:319
- error taxonomy: exceptions.py:44-76
"""

from __future__ import annotations

import re
from html.parser import HTMLParser
from urllib.parse import urljoin, urlsplit, urlunsplit

# Boilerplate path segments dropped by the exclusion filter. Data (not code)
# shared with the reference (links.py:15-34) so crawls visit the same pages.
EXCLUDED_URL_PATTERNS = (
    "/login",
    "/logout",
    "/signin",
    "/signout",
    "/register",
    "/password",
    "/cart",
    "/checkout",
    "/search",
    "/cdn-cgi/",
    "/wp-admin/",
    "/wp-login.php",
    "/favicon.ico",
    "/sitemap.xml",
    "/robots.txt",
    "/feed",
    "/rss",
    "/comments",
)

EXCLUDED_EXTENSIONS = (
    ".jpg",
    ".jpeg",
    ".png",
    ".gif",
    ".pdf",
    ".zip",
    ".tar.gz",
    ".css",
    ".js",
    ".ico",
    ".xml",
    ".json",
)

# One compiled alternation for the segment-anchored patterns: "/feed" must
# match "/feed" and "/blog/feed" but never "/feedback".
_EXCLUDED_SEGMENT_RE = re.compile(
    "(^|/)(" + "|".join(re.escape(p.strip("/")) for p in EXCLUDED_URL_PATTERNS) + ")(/|$)"
)

# Same alternation in Spark-SQL rlike syntax, for the JVM-side fast path.
EXCLUDED_SEGMENT_RLIKE = _EXCLUDED_SEGMENT_RE.pattern
EXCLUDED_EXTENSION_RLIKE = (
    r"\.(jpg|jpeg|png|gif|pdf|zip|tar\.gz|css|js|ico|xml|json)$"
)

_DEFAULT_PORTS = {"http": 80, "https": 443}

# host characters allowed into an artifact path segment (is_valid_url)
_SAFE_HOST_RE = re.compile(r"[A-Za-z0-9.-]+")

NEXTJS_CLIENT_ERROR_MARKER = (
    "Application error: a client-side exception has occurred"
)


def is_valid_url(url: str) -> bool:
    """http/https scheme with a non-empty, path-safe host (reference
    links.py:37-52).

    The host — netloc with userinfo and port stripped, the same parse as
    ``queue.get_url_output_folder`` — must be made of ``[A-Za-z0-9.-]``
    and must not contain ``..``, so no queued URL can turn its artifact
    path ``<run>/<host>/...`` into a traversal. The reference applies
    this guard at save time and raises (paths.py:35-36); every URL
    entering the frontier passes through here, so the path builders
    need no guard of their own.
    """
    try:
        parts = urlsplit(url)
    except ValueError:
        return False
    host = parts.netloc.rpartition("@")[2].split(":")[0]
    return (
        parts.scheme in ("http", "https")
        and _SAFE_HOST_RE.fullmatch(host) is not None
        and ".." not in host
    )


def canonicalize_url(url: str) -> str:
    """Canonical seen-set key for a URL.

    Definition (the engine's analogue of ``normalize_url(url.rstrip('/'))``,
    reference queue_db.py:319): lowercase scheme and host, strip a default
    port, drop the fragment, trim trailing slashes from the path, keep the
    query verbatim. Bit-deterministic: this function *defines* URL identity
    for the whole engine (north_rule seen-set equivalence).
    """
    url = url.strip()
    try:
        parts = urlsplit(url)
    except ValueError:
        return url.rstrip("/")
    scheme = parts.scheme.lower()
    host = (parts.hostname or "").lower()
    try:
        port = parts.port
    except ValueError:
        port = None
    netloc = host
    if parts.username:
        cred = parts.username + (f":{parts.password}" if parts.password else "")
        netloc = f"{cred}@{netloc}"
    if port is not None and port != _DEFAULT_PORTS.get(scheme):
        netloc = f"{netloc}:{port}"
    path = parts.path.rstrip("/")
    return urlunsplit((scheme, netloc, path, parts.query, ""))


def should_exclude_url(url: str) -> bool:
    """Extension + segment-anchored boilerplate filter (links.py:55-80)."""
    try:
        path = urlsplit(url).path.lower()
    except ValueError:
        return True
    if path.endswith(EXCLUDED_EXTENSIONS):
        return True
    return _EXCLUDED_SEGMENT_RE.search(path) is not None


class _HrefCollector(HTMLParser):
    """Collect <a href> values in document order (stdlib; no bs4 in env)."""

    def __init__(self) -> None:
        super().__init__()
        self.hrefs: list[str] = []

    def handle_starttag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        if tag != "a":
            return
        for name, value in attrs:
            if name == "href" and value:
                self.hrefs.append(value)
                return


def extract_links(base_url: str, html: str, crawl_type: str = "domain") -> list[str]:
    """Extract, resolve, filter, and canonicalize same-host links from a page.

    Mirrors reference links.py:83-165 with one deliberate difference: the
    result preserves deterministic *first-appearance order* (the reference
    returns ``list(set(...))`` — nondeterministic iteration order — which
    cannot satisfy the north rule's bit-for-bit ordering replay; our
    simulator and engine both use first-appearance order as the canonical
    definition). Robots gating is NOT applied here: the engine batches it
    per host after the explode (SURVEY §2.9 E1), unlike the reference's
    inline per-URL network call (links.py:148-151).
    """
    if crawl_type == "single_page" or not html:
        return []
    collector = _HrefCollector()
    try:
        collector.feed(html)
    except Exception:
        return []
    base_host = (urlsplit(base_url).hostname or "").lower()
    seen: set[str] = set()
    out: list[str] = []
    for href in collector.hrefs:
        if href.startswith(("javascript:", "mailto:", "tel:")):
            continue
        try:
            full = urljoin(base_url, href)
        except ValueError:
            continue
        if not is_valid_url(full):
            continue
        try:
            parts = urlsplit(full)
        except ValueError:
            continue
        host = (parts.hostname or "").lower()
        # fragment-only same-page anchor (links.py:131-135)
        if host == base_host and not parts.path and parts.fragment:
            continue
        # same-host gate for single_level/domain (links.py:138-140)
        if host != base_host:
            continue
        canon = canonicalize_url(full)
        if should_exclude_url(canon):
            continue
        if canon not in seen:
            seen.add(canon)
            out.append(canon)
    return out


def classify_error_message(msg: str) -> str:
    """Keyword fallback of the reference's error classifier.

    The engine has no live exceptions crossing executor boundaries — fetch
    UDFs emit an error *message* column — so only the keyword tier of
    exceptions.py:44-76 applies; typed tiers are encoded by the emitters
    using exact marker strings.
    """
    m = msg.lower()
    if "timeout" in m or "timed out" in m:
        return "timeout"
    if "network" in m or "connection" in m:
        return "network"
    if "robots.txt" in m or "disallowed" in m:
        return "robots_disallowed"
    if "html" in m or "parse" in m:
        return "parsing"
    if "url" in m or "scheme" in m:
        return "invalid_url"
    return "other"


def backoff_delay(current: int, factor: int = 2, cap: int = 30) -> int:
    """Adaptive backoff: min(current*factor, cap) (queue_db.py:512-537)."""
    return min(current * factor, cap)


def robots_allows(rules: str | None, allow_all: bool, url: str, agent: str = "*") -> bool:
    """Evaluate stored robots.txt rules for ``url``.

    Fail-open (reference robots.py:17-65): a host whose robots.txt could
    not be fetched carries ``allow_all=True`` and permits everything.
    Evaluation uses stdlib ``RobotFileParser`` over the persisted body.
    """
    if allow_all or not rules:
        return True
    import urllib.robotparser

    rp = urllib.robotparser.RobotFileParser()
    rp.parse(rules.splitlines())
    try:
        return rp.can_fetch(agent, url)
    except Exception:
        return True
