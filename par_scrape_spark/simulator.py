"""Reference-policy simulator: the pure-Python crawl oracle.

A single-process implementation of exactly the policy the Spark engine
distributes — the scheduler of /root/reference/src/par_scrape/
queue_db.py:358-466, the dedup/insert semantics of queue_db.py:292-355,
the per-URL pipeline of runner.py:442-638, and the loop of
runner.py:680-785 — sharing the very same ``policy`` module, synthetic
web, and deterministic ordering rules (queued_seq composite, logical
ticks) as the engine. tests/test_equivalence.py runs both on the same
config and asserts:

- identical per-superstep selected-URL sequences (crawl-ordering replay),
- bit-for-bit identical final URL-seen set,
- identical final per-URL statuses.

This file is the *specification*; plans/crawl.py is the distributed
implementation of it.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

from par_scrape_spark import policy
from par_scrape_spark.config import (
    BACKOFF_CAP,
    BACKOFF_FACTOR,
    CANDIDATE_POOL_FACTOR,
    CANDIDATE_POOL_MIN,
    ERROR_MESSAGE_MAX_LEN,
    SEQ_PARENT_SHIFT,
    SEQ_SUPERSTEP_SHIFT,
    CrawlConfig,
)
from par_scrape_spark.sources import synthetic_web


@dataclass
class SimRow:
    url: str
    status: str = "queued"
    depth: int = 0
    attempts: int = 0
    priority: int = 0
    queued_seq: int = 0
    error_type: str | None = None
    error_msg: str | None = None
    content_hash: str | None = None
    queued_at: int = 0
    last_processed_at: int | None = None
    scraped: int | None = None


@dataclass
class SimHost:
    last_access: int = 0
    crawl_delay: int = 1
    robots_rules: str | None = None
    allow_all: bool = False


@dataclass
class SimState:
    frontier: dict[str, SimRow] = field(default_factory=dict)
    politeness: dict[str, SimHost] = field(default_factory=dict)
    selected_log: list[list[str]] = field(default_factory=list)
    robots_denied: int = 0
    dedup_hits: int = 0
    pages: int = 0
    superstep: int = 0


def _host_of(url: str) -> str:
    rest = url.split("://", 1)[1] if "://" in url else url
    return rest.partition("/")[0].lower()


def simulate(config: CrawlConfig, max_supersteps: int = 10_000) -> SimState:
    st = SimState()
    cfg = config
    seed = cfg.web_seed

    # --- seeding (add_to_queue + robots + crawl-delay, runner.py:668-678)
    canon_seeds: list[str] = []
    for u in cfg.seeds:
        if not policy.is_valid_url(u):
            continue
        c = policy.canonicalize_url(u)
        if c not in canon_seeds:
            canon_seeds.append(c)
    for i, u in enumerate(canon_seeds):
        st.frontier[u] = SimRow(url=u, queued_seq=i)
        host = _host_of(u)
        if host not in st.politeness:
            rules, fetched = synthetic_web.robots_txt(host, seed)
            st.politeness[host] = SimHost(
                crawl_delay=cfg.crawl_delay if cfg.crawl_delay > 1 else 1,
                robots_rules=rules if fetched else None,
                allow_all=not fetched,
            )
    seed_set = frozenset(canon_seeds)

    # --- superstep loop
    while st.pages < cfg.crawl_max_pages and st.superstep < max_supersteps:
        st.superstep += 1
        tick = st.superstep

        # 1. selection (queue_db.py:358-466 semantics, deterministic order)
        eligible = [
            r
            for r in st.frontier.values()
            if r.status == "queued"
            or (r.status == "error" and r.attempts < cfg.scrape_retries)
        ]
        if cfg.respect_rate_limits:
            eligible.sort(
                key=lambda r: (
                    st.politeness[_host_of(r.url)].last_access,
                    r.priority,
                    r.queued_seq,
                )
            )
            pool = eligible[: max(cfg.crawl_batch_size * CANDIDATE_POOL_FACTOR,
                                  CANDIDATE_POOL_MIN)]
            batch: list[SimRow] = []
            used_hosts: set[str] = set()
            for row in pool:
                host = _host_of(row.url)
                if host in used_hosts:
                    continue
                ph = st.politeness[host]
                if ph.last_access > 0 and tick - ph.last_access < ph.crawl_delay:
                    continue
                batch.append(row)
                used_hosts.add(host)
                ph.last_access = tick
                if len(batch) >= cfg.crawl_batch_size:
                    break
        else:
            eligible.sort(key=lambda r: r.queued_seq)
            batch = eligible[: cfg.crawl_batch_size]

        if not batch:
            break
        for row in batch:
            row.status = "active"
            row.attempts += 1
            row.last_processed_at = tick
        st.selected_log.append([r.url for r in batch])
        st.pages += len(batch)
        selected_set = {r.url for r in batch}
        pre_error = {
            u for u, r in st.frontier.items() if r.status == "error"
        }  # snapshot before outcomes — engine's documented ordering rule

        # 2. fetch + extract + add_to_queue per parent, in batch order
        outcomes: list[tuple[SimRow, str | None, str | None]] = []
        for parent_rank, row in enumerate(batch):
            html, err = synthetic_web.fetch_page(row.url, seed)
            if err is not None:
                outcomes.append((row, err, None))
                continue
            extract_here = cfg.crawl_type.value == "domain" or (
                cfg.crawl_type.value == "single_level" and row.url in seed_set
            )
            links = (
                policy.extract_links(row.url, html, cfg.crawl_type.value)
                if extract_here
                else []
            )
            for link_pos, link in enumerate(links):
                host = _host_of(link)
                ph = st.politeness.get(host)
                if cfg.respect_robots and ph is not None:
                    if not policy.robots_allows(ph.robots_rules, ph.allow_all, link):
                        st.robots_denied += 1
                        continue
                if link in st.frontier:
                    st.dedup_hits += 1
                    lrow = st.frontier[link]
                    if link in pre_error and link not in selected_set and lrow.status == "error":
                        lrow.status = "queued"
                        lrow.error_msg = None
                        lrow.error_type = None
                else:
                    seq = (
                        (st.superstep << SEQ_SUPERSTEP_SHIFT)
                        | (parent_rank << SEQ_PARENT_SHIFT)
                        | link_pos
                    )
                    st.frontier[link] = SimRow(
                        url=link,
                        depth=row.depth + 1,
                        queued_seq=seq,
                        queued_at=tick,
                    )
                    if host not in st.politeness:
                        rules, fetched = synthetic_web.robots_txt(host, seed)
                        st.politeness[host] = SimHost(
                            robots_rules=rules if fetched else None,
                            allow_all=not fetched,
                        )
            # error branches after link extraction (runner.py:493-520)
            if not html:
                outcomes.append((row, "No data was fetched", None))
            elif policy.NEXTJS_CLIENT_ERROR_MARKER in html:
                outcomes.append(
                    (row, "Next.js client-side application error page detected", None)
                )
            else:
                md = synthetic_web.page_markdown(row.url, seed)
                outcomes.append(
                    (row, None, hashlib.sha256(md.encode("utf-8")).hexdigest())
                )

        # 3. outcome marks win (engine ordering rule)
        for row, err, chash in outcomes:
            if err is None:
                row.status = "completed"
                row.content_hash = chash
                row.error_msg = None
                row.error_type = None
                row.scraped = tick
            else:
                row.status = "error"
                row.error_msg = err[:ERROR_MESSAGE_MAX_LEN]
                row.error_type = policy.classify_error_message(err)
                if row.error_type in ("network", "timeout"):
                    ph = st.politeness[_host_of(row.url)]
                    ph.crawl_delay = min(
                        ph.crawl_delay * BACKOFF_FACTOR, BACKOFF_CAP
                    )
            row.last_processed_at = tick

    return st
