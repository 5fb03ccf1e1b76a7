"""Run configuration and enums.

Mirrors the reference's option surface (``ScrapeConfig`` frozen dataclass,
/root/reference/src/par_scrape/runner.py:93-133) and its enums
(/root/reference/src/par_scrape/enums.py:24-55) with the Spark-engine
additions: logical clock, bucket counts, and determinism knobs.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass, field
from enum import Enum


class OutputFormat(str, Enum):
    """Export formats (reference enums.py:15-21)."""

    MARKDOWN = "md"
    JSON = "json"
    CSV = "csv"
    EXCEL = "excel"


class ScraperChoice(str, Enum):
    """Browser-fetch backend (reference --scraper, __main__.py:101-109;
    the public par-ai-core ScraperChoice surface)."""

    PLAYWRIGHT = "playwright"
    SELENIUM = "selenium"


class ScraperWaitType(str, Enum):
    """Page-load wait strategy (reference --wait-type, __main__.py:118-125;
    the public par-ai-core ScraperWaitType surface)."""

    NONE = "none"
    PAUSE = "pause"
    SLEEP = "sleep"
    IDLE = "idle"
    SELECTOR = "selector"
    TEXT = "text"


class CrawlType(str, Enum):
    """Crawl strategies (reference enums.py:24-30)."""

    SINGLE_PAGE = "single_page"
    SINGLE_LEVEL = "single_level"
    DOMAIN = "domain"


class PageStatus(str, Enum):
    """Frontier state machine (reference enums.py:33-39).

    queued -> active -> {completed | error}; error rows with
    attempts < retries are re-eligible (queue_db.py:400-401).
    """

    QUEUED = "queued"
    ACTIVE = "active"
    COMPLETED = "completed"
    ERROR = "error"


class ErrorType(str, Enum):
    """Error taxonomy (reference enums.py:42-55)."""

    NETWORK = "network"
    PARSING = "parsing"
    ROBOTS_DISALLOWED = "robots_disallowed"
    INVALID_URL = "invalid_url"
    TIMEOUT = "timeout"
    OTHER = "other"


# Persisted error messages are bounded (reference queue_db.py:28).
ERROR_MESSAGE_MAX_LEN = 255

# Scheduler candidate pool: 25x batch, min 100 (reference queue_db.py:393).
CANDIDATE_POOL_FACTOR = 25
CANDIDATE_POOL_MIN = 100

# Adaptive backoff: delay*2 capped at 30 (reference queue_db.py:512-537).
BACKOFF_FACTOR = 2
BACKOFF_CAP = 30

# queued_seq composite encoding (deterministic, shuffle-free sequence
# assignment — see plans/crawl.py):
#   seq = superstep << 44 | parent_rank << 16 | link_pos
# parent_rank < 2^28 (268M hosts/batch), link_pos < 2^16 links/page.
SEQ_SUPERSTEP_SHIFT = 44
SEQ_PARENT_SHIFT = 16


@dataclass(frozen=True)
class FetchOptions:
    """Browser-fetch configuration carried into the fetch UDF.

    Mirrors the reference's fetch_url contract (reference
    runner.py:714-724 passes scraper/sleep_time/wait_type/wait_selector/
    headless into every batch fetch; CLI surface __main__.py:101-160).
    The sandbox's synthetic fetcher honors the *observable* semantics —
    selector/text waits time out when the marker never appears in the
    page, and ``simulate_latency`` stands in for the real browser's
    per-page sleep — while a real deployment plugs a Playwright/Selenium
    client into the same seam with nothing upstream changing.

    ``simulate_latency`` is engine-only (no CLI flag): real browser
    fetches pay the sleep inside the browser; the synthetic fetch only
    sleeps when a test asks it to prove the batch parallelism contract
    (reference tests/test_runner.py:184-231 shape).
    """

    scraper: ScraperChoice = ScraperChoice.PLAYWRIGHT
    headless: bool = False
    wait_type: ScraperWaitType = ScraperWaitType.SLEEP
    wait_selector: str | None = None
    sleep_time: float = 2.0
    simulate_latency: bool = False
    scrape_max_parallel: int = 1  # reference -P (__main__.py:113-117):
    # per-WORKER fetch fan-out. In Spark, cross-page parallelism is the
    # batch's partition count (tasks), so this is the per-partition
    # async-client concurrency hint for a real HTTP/browser fetcher —
    # the synthetic fetcher is CPU-bound per page and ignores it

    def __post_init__(self) -> None:
        # CLI-style validation (reference __main__.py:101-125: enum
        # choices, case-insensitive) before any Spark work starts
        if not isinstance(self.scraper, ScraperChoice):
            object.__setattr__(
                self, "scraper", ScraperChoice(str(self.scraper).lower())
            )
        if not isinstance(self.wait_type, ScraperWaitType):
            object.__setattr__(
                self, "wait_type", ScraperWaitType(str(self.wait_type).lower())
            )
        if self.wait_type in (ScraperWaitType.SELECTOR, ScraperWaitType.TEXT):
            if not self.wait_selector:
                raise ValueError(
                    f"--wait-selector is required when --wait-type is "
                    f"{self.wait_type.value!r}"
                )
        if self.sleep_time < 0:
            raise ValueError("--sleep-time must be >= 0")
        if self.scrape_max_parallel < 1:
            raise ValueError("--scrape-max-parallel must be >= 1")


@dataclass(frozen=True)
class CrawlConfig:
    """Full option surface of one crawl run.

    Field semantics follow the reference CLI defaults
    (/root/reference/src/par_scrape/__main__.py:110-117,241-260) except
    where the distributed engine needs more: ``num_buckets`` sizes the
    host-salted partitioning, ``bloom_*`` size the per-bucket seen-set
    filters, and time is a logical superstep tick, never wall clock.
    """

    run_name: str
    seeds: tuple[str, ...]
    crawl_type: CrawlType = CrawlType.DOMAIN
    crawl_batch_size: int = 1
    crawl_max_pages: int = 100
    scrape_retries: int = 3
    respect_rate_limits: bool = True
    respect_robots: bool = True
    crawl_delay: int = 1  # ticks; seed-host override like --crawl-delay
    if_changed: bool = False  # reuse prior runs' outputs on content-hash match
    max_depth: int | None = None  # drop discovered links deeper than this
    prune: bool = False  # prune boilerplate from the markdown fed to
    # extraction (ENH-003, reference runner.py:556-559); the artifact save
    # and content hash always use the UNPRUNED markdown (runner.py:531)
    extract_fields: tuple[str, ...] = ()  # dynamic extraction fields; empty
    # = markdown-only run (reference ai_provider=None)
    extraction_prompt: str | None = None  # extraction instruction text
    # (reference --extraction-prompt file, __main__.py:214-216); parsed by
    # ExtractionRules — deterministically changes extractor behavior
    fetch_options: FetchOptions = field(default_factory=FetchOptions)
    # browser-fetch surface (reference __main__.py:101-160): plumbed into
    # the fetch UDF's contract; see FetchOptions
    web_seed: int = 42  # synthetic web determinism seed
    num_buckets: int = 8  # host_salt buckets; 4096 at 10^10 design point
    bloom_capacity_per_bucket: int = 1 << 17
    bloom_fpp: float = 1e-3
    compact_every: int = 8  # fold frontier deltas into base every N supersteps
    hot_host_spread: int = 1  # D5: >1 spreads a hot host's rows over this
    # many salt buckets (keyed by url_hash); hot hosts are derived from
    # frontier row counts at compaction time (lineage-driven re-salting)
    hot_host_threshold: int = 100_000  # frontier rows per host before it
    # is flagged hot
    broadcast_row_limit: int = 500_000  # per-superstep discovery sets above
    # this take a shuffle join instead of a forced broadcast (OOM guard)
    log_selection: bool = True  # record per-superstep selection order in
    # RUN_STATE.json (the equivalence-test artifact; off for big benches)

    def __post_init__(self) -> None:
        # run-name sanitization (reference runner.py:193-196): the name is
        # used in filesystem paths (RUN_STATE-<run>.json, filter sidecar
        # dirs), so anything but [alnum-_] is a traversal hazard
        sanitized = "".join(c for c in self.run_name if c.isalnum() or c in "-_")
        if sanitized != self.run_name:
            object.__setattr__(self, "run_name", sanitized or uuid.uuid4().hex)
