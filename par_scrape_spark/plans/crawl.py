"""The crawl engine: deterministic BFS supersteps over snapshot tables.

The reference's crawl loop (/root/reference/src/par_scrape/runner.py:
680-785) — stats → select batch → fetch → process → repeat — becomes a
driver superstep loop (SURVEY §2.9 L1). Each superstep is:

    select (W1-W3, scheduler.py)
      → fetch + extract (mapInPandas, links.py)
      → child candidates + robots gate (E1/E3)
      → seen-set dedup (J2: bloom/cuckoo prune + exact anti-join)
      → reconcile frontier / politeness / payload / lineage
      → one atomic multi-table snapshot commit + filter sidecar advance
      → RUN_STATE.json (written last — the run's atomicity root)

Determinism (north_rule bit-for-bit replay): time is the superstep tick;
every choice is ordered by ``(last_access, priority, queued_seq)``;
``queued_seq`` is assigned by shuffle-free column arithmetic
(links.child_candidates); the synthetic fetch is a pure function of
``(url, seed)``. tests/test_equivalence.py replays the same config
through the pure-Python reference-policy simulator and asserts equal
per-superstep selection sequences and a bit-for-bit equal final seen set.

Within-superstep update ordering (defined here because the reference's
thread pool leaves it racy — SURVEY §7.3): (1) selection marks,
(2) error-resets apply only to rows already in ``error`` state before
the superstep and not selected in it, (3) outcome marks win. This
reproduces the reference's sequential batch=1 behavior exactly.

Resume (L4): stale ``active`` rows are requeued with attempts preserved
— the reference leaks them until retry; we define the semantics and test
them (tests/test_resume.py).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from par_scrape_spark import policy
from par_scrape_spark.config import (
    BACKOFF_CAP,
    BACKOFF_FACTOR,
    CrawlConfig,
    PageStatus,
)
from par_scrape_spark.functions.errors import classify_error_col
from par_scrape_spark.functions.urls import (
    host_salt_col,
    output_folder_col,
    with_url_identity,
)
from par_scrape_spark.operators import robots as robots_ops
from par_scrape_spark.operators import scheduler
from par_scrape_spark.operators.dedup import FilterStore
from par_scrape_spark.operators.extraction import (
    EXTRACTION_SCHEMA,
    extract_structured,
    listing_rows,
)
from par_scrape_spark.operators.links import child_candidates, fetch_extract
from par_scrape_spark.operators.payload import fetch_decode_phash
from par_scrape_spark.schemas import (
    FRONTIER_SCHEMA,
    LINEAGE_SCHEMA,
    PAYLOAD_SCHEMA,
    POLITENESS_SCHEMA,
)
from par_scrape_spark.tableio import SnapshotTable

FRONTIER_COLS = [f.name for f in FRONTIER_SCHEMA.fields]


def _bounded_broadcast(df: DataFrame, n_rows_upper: int, limit: int) -> DataFrame:
    """Broadcast only when a known row-count upper bound says it is safe.

    Per-superstep discovery sets are unbounded at web scale (a link-dense
    superstep can discover millions of child URLs); forcing F.broadcast
    on them risks driver/executor OOM at 100x scale. Above the limit the
    join degrades to a SHUFFLED HASH join with the bounded discovery set
    as the build side (the ``shuffle_hash`` hint): both sides shuffle,
    but the frontier — by far the larger side — is only streamed, never
    sorted, unlike the planner's default sort-merge fallback. Slower per
    superstep than a broadcast, never fatal, and per-partition build
    maps stay delta-sized.
    """
    return F.broadcast(df) if n_rows_upper <= limit else df.hint("shuffle_hash")


def _atomic_json(path: str, obj: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def make_tables(spark: SparkSession, warehouse: str) -> dict[str, SnapshotTable]:
    """Open (creating on first commit) the warehouse's five snapshot
    tables — the engine's schema-init step (reference init_db,
    queue_db.py:154; S1). Shared by ``CrawlEngine.__init__`` and the
    ``queue.init_db`` compat wrapper so both agree on keys/partitioning."""
    os.makedirs(warehouse, exist_ok=True)
    return {
        "frontier": SnapshotTable(
            spark, warehouse, "frontier", FRONTIER_SCHEMA,
            key_cols=["run", "url"], partition_cols=["host_salt"],
        ),
        "politeness": SnapshotTable(
            spark, warehouse, "politeness", POLITENESS_SCHEMA, key_cols=["host"]
        ),
        "payload": SnapshotTable(spark, warehouse, "payload", PAYLOAD_SCHEMA),
        "lineage": SnapshotTable(spark, warehouse, "lineage", LINEAGE_SCHEMA),
        "extraction": SnapshotTable(
            spark, warehouse, "extraction", EXTRACTION_SCHEMA
        ),
    }


class CrawlEngine:
    """One crawl run over a warehouse directory; resumable from snapshot."""

    def __init__(self, spark: SparkSession, config: CrawlConfig, warehouse: str):
        self.spark = spark
        self.config = config
        self.warehouse = warehouse
        # Superstep queries are micro-batches: politeness bounds the batch
        # to one URL per host, so per-superstep shuffles are small by
        # construction even at the 10^10 design point. AQE's per-shuffle
        # re-planning round trips dominate the superstep's fixed cost
        # (measured ~2x end-to-end drain time); analytical queries over
        # the big tables should re-enable it.
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        # Tables are SHARED across runs within a warehouse — the analogue
        # of the reference's single jobs.sqlite holding every ticket_id
        # (queue_db.py:18-19); rows are keyed by (run, url), and cross-run
        # history powers the --if-changed memoization (J4). Runs execute
        # sequentially per warehouse; RUN_STATE is per run.
        self.root = warehouse
        tables = make_tables(spark, warehouse)
        self.frontier = tables["frontier"]
        self.politeness = tables["politeness"]
        self.payload = tables["payload"]
        self.lineage = tables["lineage"]
        self.extraction = tables["extraction"]
        self.filters = FilterStore(
            os.path.join(warehouse, "_filters", config.run_name),
            config.bloom_capacity_per_bucket,
            config.bloom_fpp,
        )
        self.state_path = os.path.join(
            warehouse, f"RUN_STATE-{config.run_name}.json"
        )
        # warehouse-global logical clock: politeness last_access is shared
        # across runs (like the reference's wall clock + shared
        # domain_rate_limit), so ticks must be monotone across runs too
        self.clock_path = os.path.join(warehouse, "CLOCK.json")
        self.timings: list[dict] = []  # per-superstep phase wall times
        self.state: dict = {
            "run": config.run_name,
            "superstep": 0,
            "pages": 0,
            "snapshots": {},
            "filter_step": None,
            "done": False,
            "selected_log": [],
            "tick": 0,
        }

    # ------------------------------------------------------------ lifecycle

    def state_exists(self) -> bool:
        return os.path.exists(self.state_path)

    def _commit_state(self) -> None:
        _atomic_json(self.state_path, self.state)

    def _read_table(self, table: SnapshotTable, name: str) -> DataFrame:
        return table.read(self.state["snapshots"].get(name))

    def _read_clock(self) -> int:
        if os.path.exists(self.clock_path):
            with open(self.clock_path) as f:
                return int(json.load(f)["tick"])
        return 0

    def _write_clock(self, tick: int) -> None:
        _atomic_json(self.clock_path, {"tick": max(tick, self._read_clock())})

    def start(self) -> None:
        """Fresh start: seed the frontier + politeness (reference
        init_db + add_to_queue + robots fetch, runner.py:668-678), commit
        superstep 0. On an existing run, resume instead."""
        if self.state_exists():
            self.resume()
            return
        cfg = self.config
        self.state["tick"] = self._read_clock()
        raw = [u for u in cfg.seeds if policy.is_valid_url(u)]
        canon: list[str] = []
        seen_seeds: set[str] = set()  # first-appearance dedup, O(n)
        for u in raw:
            c = policy.canonicalize_url(u)
            if c not in seen_seeds:
                seen_seeds.add(c)
                canon.append(c)
        seeds_df = self.spark.createDataFrame(
            [(cfg.run_name, u, i) for i, u in enumerate(canon)],
            ["run", "url", "queued_seq"],
        )
        seeds_df = with_url_identity(seeds_df, num_buckets=cfg.num_buckets)
        rows = (
            seeds_df.withColumn("status", F.lit(PageStatus.QUEUED.value))
            .withColumn("depth", F.lit(0))
            .withColumn("attempts", F.lit(0))
            .withColumn("priority", F.lit(0).cast("long"))
            .withColumn("queued_at", F.lit(0).cast("long"))
            .withColumn("queued_seq", F.col("queued_seq").cast("long"))
        )
        frontier_rows = self._align_frontier(rows).cache()
        # upsert, not overwrite: the frontier is shared across runs
        # (INSERT OR IGNORE analogue — existing (run,url) keys of other
        # runs untouched; re-seeding the same run replaces its seed rows)
        fsnap = self.frontier.commit_upsert(frontier_rows)

        # politeness is a shared per-host table like the reference's
        # domain_rate_limit: new hosts inserted with defaults (J5,
        # queue_db.py:344-350), existing hosts preserved; the initial
        # --crawl-delay override applies to seed hosts (runner.py:676-678)
        existing_pol = self.politeness.read()
        hosts = seeds_df.select("host").distinct()
        new_hosts = hosts.join(existing_pol.select("host"), "host", "left_anti")
        robots = robots_ops.fetch_robots_for_hosts(new_hosts, cfg.web_seed)
        delay = cfg.crawl_delay if cfg.crawl_delay > 1 else 1
        pol_new_rows = robots.select(
            "host",
            F.lit(0).cast("long").alias("last_access"),
            F.lit(delay).alias("crawl_delay"),
            "robots_rules",
            "robots_fetched",
            "allow_all",
        )
        if cfg.crawl_delay > 1:
            overrides = (
                existing_pol.join(F.broadcast(hosts), "host", "left_semi")
                .withColumn("crawl_delay", F.lit(cfg.crawl_delay))
            )
            pol_new_rows = pol_new_rows.unionByName(overrides)
        psnap = self.politeness.commit_upsert(pol_new_rows)

        self.filters.advance(
            None, 0, frontier_rows.select("host_salt", "url_hash"), cfg.num_buckets
        )
        frontier_rows.unpersist()
        # Pin EVERY table the run will commit to — commits chain from the
        # pinned parent, never LATEST, so a crash-redo of a superstep can
        # never resurrect orphan appends from the interrupted attempt
        # (prior runs' data is whatever LATEST holds at start).
        self.state["snapshots"] = {
            "frontier": fsnap,
            "politeness": psnap,
            "payload": self.payload.latest_snapshot() or 0,
            "lineage": self.lineage.latest_snapshot() or 0,
            "extraction": self.extraction.latest_snapshot() or 0,
        }
        self.state["filter_step"] = 0
        self.state["frontier_upper"] = len(canon)
        self._commit_state()

    def resume(self) -> None:
        """Load RUN_STATE.json and requeue stale active rows."""
        with open(self.state_path) as f:
            self.state = json.load(f)
        frontier = self._read_table(self.frontier, "frontier")
        stale = frontier.filter(
            (F.col("run") == self.config.run_name)
            & (F.col("status") == PageStatus.ACTIVE.value)
        )
        stale = stale.withColumn("status", F.lit(PageStatus.QUEUED.value))
        if stale.limit(1).count() > 0:
            snap = self.frontier.commit_upsert(
                self._align_frontier(stale),
                parent=self.state["snapshots"].get("frontier", 0),
            )
            self.state["snapshots"]["frontier"] = snap
            self._commit_state()

    # ------------------------------------------------------------ helpers

    def _align_frontier(self, df: DataFrame) -> DataFrame:
        """Project/cast to the exact frontier schema, adding NULL/default
        columns that are absent."""
        cols = []
        present = set(df.columns)
        for field in FRONTIER_SCHEMA.fields:
            if field.name in present:
                cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
            else:
                cols.append(F.lit(None).cast(field.dataType).alias(field.name))
        return df.select(*cols)

    # ------------------------------------------------------------ superstep

    def superstep(self) -> int:
        """Run one superstep; returns the number of pages selected."""
        cfg = self.config
        step = self.state["superstep"] + 1
        tick = self.state.get("tick", self.state["superstep"]) + 1
        run = cfg.run_name

        phase_t: dict[str, float] = {}
        t0 = time.time()

        # the pinned snapshots are the only table image: read (merge-on-read
        # latest-wins, tableio/manifest.py) and cache them for this
        # superstep's branches; released with the other per-step caches
        frontier = self._read_table(self.frontier, "frontier").cache()
        politeness = self._read_table(self.politeness, "politeness").cache()

        selected = scheduler.select_batch(
            frontier,
            politeness,
            run,
            tick,
            cfg.crawl_batch_size,
            cfg.scrape_retries,
            cfg.respect_rate_limits,
            # engine-tracked upper bound on eligible rows (seeds + every
            # superstep's allowed candidates): proves the pool cut can't
            # trigger and skips the top-k
            eligible_upper=self.state.get("frontier_upper"),
        )
        # the batch leaves the scheduler's top-k in ONE partition; spread
        # it across host buckets before the parallel fetch/extract stages
        # or they run on a single core
        selected = selected.repartition(F.col("host_salt")).cache()
        # the count fills the batch cache; every later job reads the cache
        n_selected = selected.count()
        phase_t["select"] = time.time() - t0
        if n_selected == 0:
            self.state["done"] = True
            self._commit_state()
            for df in (selected, frontier, politeness):
                df.unpersist()
            return 0

        seed_set = frozenset(
            policy.canonicalize_url(u) for u in cfg.seeds if policy.is_valid_url(u)
        )
        # stale result columns from a prior attempt are recomputed by the
        # fetch; drop them so the UDF's outputs are unambiguous
        batch_in = selected.drop("content_hash")
        fetched = fetch_extract(
            batch_in, cfg.web_seed, cfg.crawl_type, seed_set, cfg.fetch_options
        ).cache()

        # seq uses the global tick (not the per-run step) so queued_seq
        # stays a total order across runs sharing the warehouse
        candidates = child_candidates(
            fetched,
            run,
            tick,
            tick,
            cfg.num_buckets,
            hot_hosts=tuple(self.state.get("hot_hosts", ())),
            hot_spread=cfg.hot_host_spread,
        )
        if cfg.max_depth is not None:
            candidates = candidates.filter(F.col("depth") <= cfg.max_depth)
        candidates = robots_ops.robots_gate(
            candidates, politeness, cfg.respect_robots
        ).cache()
        allowed = candidates.filter(F.col("robots_allowed")).drop("robots_allowed")

        # J2: exact dedup, bloom/cuckoo-pruned. Survivor check is the
        # two-step broadcast pattern: semi-join the (huge) frontier keys
        # against the (small) maybe-set, then anti-join maybe against the
        # small hit set — the frontier is scanned, never shuffled.
        frontier_keys = frontier.select("run", "url_hash", "url")
        probed = self.filters.probe_udf_cols(
            allowed, self.state.get("filter_step")
        ).cache()
        # ONE pinning job: materializing probed also fills the fetched and
        # candidates caches (they are its parents), so every later branch
        # (outcomes, resets, dedup, lineage, payload) reads cached data —
        # without this, each union branch would re-run the UDF chain.
        # The grouped count doubles as the broadcast-safety measurement:
        # discovery sets are unbounded per superstep, so every broadcast
        # below is guarded by these real counts (never forced blind).
        seen_counts = {
            r["maybe_seen"]: r["n"]
            for r in probed.groupBy("maybe_seen").agg(F.count("*").alias("n")).collect()
        }
        n_maybe = int(seen_counts.get(True, 0))
        n_allowed = n_maybe + int(seen_counts.get(False, 0))
        bcast_lim = cfg.broadcast_row_limit
        phase_t["fetch_probe"] = time.time() - t0 - phase_t["select"]
        definite_new = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
        maybe = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
        if n_maybe == 0:
            new_rows = definite_new.cache()
        else:
            hits = frontier_keys.join(
                _bounded_broadcast(
                    maybe.select("run", "url_hash", "url"), n_maybe, bcast_lim
                ),
                ["run", "url_hash", "url"],
                "left_semi",
            )
            survivors = maybe.join(
                _bounded_broadcast(hits, n_maybe, bcast_lim),
                ["run", "url_hash", "url"],
                "left_anti",
            )
            # cache fills during the frontier commit job; no separate count
            new_rows = definite_new.unionByName(survivors).cache()

        # J3: error-resets — frontier rows already in error state,
        # rediscovered this superstep, not themselves selected
        selected_keys = selected.select("run", "url")
        resets = (
            frontier.filter(
                (F.col("run") == run) & (F.col("status") == PageStatus.ERROR.value)
            )
            .join(
                _bounded_broadcast(
                    allowed.select("run", "url"), n_allowed, bcast_lim
                ),
                ["run", "url"],
                "left_semi",
            )
            .join(F.broadcast(selected_keys), ["run", "url"], "left_anti")
            .withColumn("status", F.lit(PageStatus.QUEUED.value))
            .withColumn("error_msg", F.lit(None).cast("string"))
            .withColumn("error_type", F.lit(None).cast("string"))
        )

        # fetch-level failure (payload/images hinge on this); page-level
        # failure additionally includes extraction errors (ARC-001)
        is_fetch_err = F.col("fetch_error").isNotNull()

        # --if-changed memoization (J4, reference runner.py:539-552 /
        # queue_db.py:626-668): completed pages whose content hash matches
        # a prior completed row of ANOTHER run reuse that run's outputs
        outcome_src = fetched
        if cfg.if_changed:
            from pyspark.sql import Window

            hist = (
                frontier.filter(
                    (F.col("status") == PageStatus.COMPLETED.value)
                    & (F.col("run") != run)
                )
                .select(
                    "url",
                    F.col("content_hash").alias("_h_hash"),
                    F.col("file_refs").alias("prior_file_refs"),
                    F.col("queued_seq").alias("_h_seq"),
                    F.col("run").alias("_h_run"),
                )
            )
            w_latest = Window.partitionBy("url", "_h_hash").orderBy(
                F.col("_h_seq").desc(), F.col("_h_run").desc()
            )
            latest = (
                hist.withColumn("_rn", F.row_number().over(w_latest))
                .filter(F.col("_rn") == 1)
                .drop("_rn", "_h_seq", "_h_run")
            )
            # join strategy left to the planner: the completed-history side
            # is unbounded (the whole frontier at 100x scale) — a forced
            # broadcast here was round-1's OOM hazard
            outcome_src = fetched.join(
                latest.withColumnRenamed("_h_hash", "content_hash"),
                ["url", "content_hash"],
                "left",
            )
        else:
            outcome_src = fetched.withColumn(
                "prior_file_refs",
                F.lit(None).cast("map<string,string>"),
            )

        # extraction stage (reference runner.py:556-585): prune feeds ONLY
        # the extractor (hash + raw artifact stay unpruned, runner.py:531);
        # memoized pages (prior_file_refs set) skip extraction exactly like
        # the reference's mark-complete-before-LLM reuse path
        if cfg.extract_fields:
            if cfg.prune:
                from par_scrape_spark.functions.prune import prune_markdown_udf

                ext_in = outcome_src.withColumn(
                    "_md_llm", prune_markdown_udf()(F.col("markdown"))
                )
            else:
                ext_in = outcome_src.withColumn("_md_llm", F.col("markdown"))
            outcome_src = extract_structured(
                ext_in,
                cfg.extract_fields,
                markdown_col="_md_llm",
                skip_col="prior_file_refs",
                instruction=cfg.extraction_prompt,
            ).drop("_md_llm")
        else:
            outcome_src = (
                outcome_src.withColumn("extract_error", F.lit(None).cast("string"))
                .withColumn(
                    "listings", F.lit(None).cast("array<map<string,string>>")
                )
                .withColumn("extract_cost", F.lit(0.0))
            )
        outcome_src = outcome_src.cache()

        # page-level error: fetch OR extraction failure — a failed
        # extraction must become an error row, never a silent COMPLETED
        # (reference tests/test_scrape_data.py:99-126)
        is_err = is_fetch_err | F.col("extract_error").isNotNull()
        err_msg = F.coalesce(F.col("fetch_error"), F.col("extract_error"))

        outcomes = (
            outcome_src.withColumn(
                "status",
                F.when(is_err, F.lit(PageStatus.ERROR.value)).otherwise(
                    F.lit(PageStatus.COMPLETED.value)
                ),
            )
            .withColumn(
                "error_type", F.when(is_err, classify_error_col(err_msg))
            )
            .withColumn(
                "error_msg", F.when(is_err, F.substring(err_msg, 1, 255))
            )
            .withColumn("scraped", F.when(~is_err, F.lit(tick).cast("long")))
            .withColumn(
                "file_refs",
                F.when(
                    ~is_err,
                    F.map_concat(
                        F.create_map(
                            F.lit("md"), output_folder_col(F.col("run"), F.col("url"))
                        ),
                        # non-md prior outputs carried over verbatim, plus a
                        # "reused" ref naming the prior artifact (the
                        # engine's analogue of the reference's file copy,
                        # runner.py:400-439 — a join projection, no I/O).
                        # "reused"/"extracted" are excluded from the
                        # carry-over: the branches below re-emit them, and
                        # a third-generation --if-changed reuse would
                        # otherwise hit DUPLICATED_MAP_KEY in map_concat.
                        F.map_filter(
                            F.coalesce(
                                F.col("prior_file_refs"),
                                F.create_map().cast("map<string,string>"),
                            ),
                            lambda k, _: ~k.isin("md", "reused", "extracted"),
                        ),
                        F.when(
                            F.col("prior_file_refs").isNotNull(),
                            F.create_map(
                                F.lit("reused"),
                                F.element_at(F.col("prior_file_refs"), "md"),
                            ),
                        ).otherwise(F.create_map().cast("map<string,string>")),
                        # S6: extracted-outputs ref for pages with listings
                        F.when(
                            F.col("listings").isNotNull(),
                            F.create_map(
                                F.lit("extracted"),
                                F.concat(
                                    output_folder_col(F.col("run"), F.col("url")),
                                    F.lit("/extracted_data"),
                                ),
                            ),
                        ).otherwise(F.create_map().cast("map<string,string>")),
                    ),
                ),
            )
            .withColumn("last_processed_at", F.lit(tick).cast("long"))
            .withColumn("attempts", F.col("attempts") + 1)
            .withColumn("cost", F.coalesce(F.col("extract_cost"), F.lit(0.0)))
        )

        new_frontier_rows = (
            new_rows.withColumn("status", F.lit(PageStatus.QUEUED.value))
            .withColumn("attempts", F.lit(0))
            .withColumn("priority", F.lit(0).cast("long"))
        )

        upsert = (
            self._align_frontier(outcomes)
            .unionByName(self._align_frontier(resets))
            .unionByName(self._align_frontier(new_frontier_rows))
        )

        # politeness reconciliation: selected hosts advance last_access;
        # network/timeout errors double the host's crawl delay (E4/C9)
        sel_hosts = selected.select("host").distinct().withColumn("_sel", F.lit(True))
        err_hosts = (
            outcomes.filter(F.col("error_type").isin("network", "timeout"))
            .select("host")
            .distinct()
            .withColumn("_err", F.lit(True))
        )
        pol_full = (
            politeness.join(F.broadcast(sel_hosts), "host", "left")
            .join(F.broadcast(err_hosts), "host", "left")
            .withColumn(
                "last_access",
                F.when(F.col("_sel"), F.lit(tick).cast("long")).otherwise(
                    F.col("last_access")
                ),
            )
            .withColumn(
                "crawl_delay",
                F.when(
                    F.col("_err"),
                    F.least(
                        F.col("crawl_delay") * BACKOFF_FACTOR, F.lit(BACKOFF_CAP)
                    ),
                ).otherwise(F.col("crawl_delay")),
            )
        )
        # only the touched hosts are committed (batch-bounded upsert): the
        # host table is 10^7-10^8 rows at the design point and round-1's
        # full commit_overwrite per superstep was a scale-killer
        pol_changed = pol_full.filter(
            F.col("_sel").isNotNull() | F.col("_err").isNotNull()
        ).drop("_sel", "_err")

        # payload: image rows for fetch-ok pages (the raw artifact exists
        # even when extraction later fails — reference saves raw before the
        # LLM, runner.py:525-531), decoded + phashed in one fused Arrow stage
        ok_pages = fetched.filter(~is_fetch_err)
        images = fetch_decode_phash(ok_pages, run, cfg.web_seed, tick)
        ext_rows = (
            listing_rows(outcome_src, tick) if cfg.extract_fields else None
        )

        # lineage counters per host bucket (A4 / north_rule): one
        # long-format union + a single groupBy — not a chain of joins
        counter_cols = [
            "selected", "fetched_ok", "errors", "robots_denied",
            "_allowed", "new_urls", "images",
        ]

        def _tagged(df, cost_expr=None, new_hash=False, **exprs):
            return df.select(
                "host_salt",
                *[
                    (exprs.get(c, F.lit(0)).cast("long")).alias(c)
                    for c in counter_cols
                ],
                (cost_expr if cost_expr is not None else F.lit(0.0))
                .cast("double")
                .alias("cost"),
                # A8 input: the superstep's new url_hashes (null elsewhere;
                # approx_count_distinct ignores nulls)
                (F.col("url_hash") if new_hash else F.lit(None))
                .cast("long")
                .alias("_new_hash"),
            )

        zero = F.lit(0)
        lineage_long = (
            _tagged(
                outcome_src,
                selected=F.lit(1),
                fetched_ok=F.when(~is_fetch_err, 1).otherwise(zero),
                errors=F.when(is_err, 1).otherwise(zero),
                images=F.when(~is_fetch_err, F.col("n_images")).otherwise(zero),
                cost_expr=F.coalesce(F.col("extract_cost"), F.lit(0.0)),
            )
            .unionByName(
                _tagged(
                    candidates,
                    robots_denied=F.when(~F.col("robots_allowed"), 1).otherwise(zero),
                    _allowed=F.when(F.col("robots_allowed"), 1).otherwise(zero),
                )
            )
            .unionByName(_tagged(new_rows, new_urls=F.lit(1), new_hash=True))
        )
        lineage = (
            lineage_long.groupBy("host_salt")
            .agg(
                *[F.sum(c).alias(c) for c in counter_cols],
                F.round(F.sum("cost"), 9).alias("cost"),  # A5 rollup
                F.approx_count_distinct("_new_hash").alias("seen_card_est"),
            )
            .withColumn("dedup_hits", F.col("_allowed") - F.col("new_urls"))
            .drop("_allowed")
            .withColumn("run", F.lit(run))
            .withColumn("superstep", F.lit(step).cast("long"))
            .select([f.name for f in LINEAGE_SCHEMA.fields])
        )

        # ---- commits (multi-table; RUN_STATE.json pins the snapshot set).
        # Every commit chains from the PINNED parent snapshot, never
        # LATEST: a crash between side-table commits and _commit_state
        # leaves orphan commits, and a LATEST-chained redo would resurrect
        # them (duplicated payload rows, doubled lineage counters).
        # ALL commits — frontier included — run as ONE pool of concurrent
        # Spark jobs: every serial job barrier between them was pure
        # driver latency (the superstep's fixed cost, which is what
        # dilutes scaling). The engine keeps no in-memory table image
        # across supersteps: the next superstep reads the snapshots
        # pinned below, so the commits are the only state hand-off.
        # Shared cached subtrees are safe under concurrency — the block
        # manager's per-partition loading locks make the first arriving
        # task compute a cached partition while the rest block and reuse
        # it, so nothing is computed twice.
        t1 = time.time()
        pins = self.state["snapshots"]
        upsert = upsert.cache()
        prev_fstep = self.state.get("filter_step")
        rebuild_filters = False
        compacted = False
        from concurrent.futures import ThreadPoolExecutor

        def _timed(tag):
            # wall-time of each concurrent commit (overlapping — the max
            # is the pool's critical path, the others show contention)
            def _wrap(fn, *a):
                s = time.time()
                out = fn(*a)
                phase_t[tag] = round(time.time() - s, 3)
                return out

            return _wrap

        with ThreadPoolExecutor(max_workers=8) as pool:
            fut_front = pool.submit(
                _timed("c_front"),
                self.frontier.commit_upsert,
                upsert,
                pins.get("frontier", 0),
            )
            fut_pol = pool.submit(
                _timed("c_pol"),
                self.politeness.commit_upsert,
                pol_changed,
                pins.get("politeness", 0),
            )
            fut_pay = pool.submit(
                _timed("c_pay"), self.payload.commit_append, images, pins.get("payload", 0)
            )
            fut_lin = pool.submit(
                _timed("c_lin"), self.lineage.commit_append, lineage, pins.get("lineage", 0)
            )
            fut_ext = (
                pool.submit(
                    _timed("c_ext"),
                    self.extraction.commit_append,
                    ext_rows,
                    pins.get("extraction", 0),
                )
                if ext_rows is not None
                else None
            )
            # incremental sidecar advance runs unconditionally; the rare
            # re-salting rebuild below redoes the step dir afterwards
            fut_filters = pool.submit(
                _timed("c_filt"),
                self.filters.advance,
                prev_fstep,
                step,
                new_rows.select("host_salt", "url_hash"),
                cfg.num_buckets,
            )
            fsnap = fut_front.result()
            if self.frontier.delta_count() >= cfg.compact_every:
                fsnap = self.frontier.compact(fsnap)
                compacted = True
                if cfg.hot_host_spread > 1:
                    # D5 lineage-driven re-salting: flag hosts whose
                    # frontier row count crossed the threshold; FUTURE
                    # discoveries of these hosts spread over
                    # hot_host_spread salt buckets. Amortized to
                    # compaction cadence (one agg per compact).
                    hot = (
                        self.frontier.read(fsnap)
                        .groupBy("host")
                        .count()
                        .filter(F.col("count") >= cfg.hot_host_threshold)
                        .select("host")
                        .collect()
                    )
                    new_hot = sorted(r["host"] for r in hot)
                    if new_hot != list(self.state.get("hot_hosts", [])):
                        self.state["hot_hosts"] = new_hot
                        rebuild_filters = True
            psnap = fut_pol.result()
            paysnap = fut_pay.result()
            lsnap = fut_lin.result()
            extsnap = fut_ext.result() if fut_ext else pins.get("extraction", 0)
            fut_filters.result()
            if rebuild_filters:
                # salt assignment changed: bloom "never seen" in the NEW
                # bucket no longer proves global newness for URLs added
                # under the OLD salt, so the sidecars are rebuilt from
                # the full (just-compacted) frontier under the new
                # assignment — otherwise a rediscovered completed URL
                # would re-queue (seen-set exactness violated). The
                # incremental advance above wrote this step's dir under
                # the old salt; wipe it first so no stale bucket links
                # survive. (Bounded: only on supersteps where the
                # hot-host set changed.)
                import shutil as _shutil

                _shutil.rmtree(self.filters.step_dir(step), ignore_errors=True)
                full_keys = self.frontier.read(fsnap).select(
                    host_salt_col(
                        F.col("host"),
                        cfg.num_buckets,
                        F.col("url_hash"),
                        tuple(self.state["hot_hosts"]),
                        cfg.hot_host_spread,
                    ).alias("host_salt"),
                    "url_hash",
                )
                self.filters.advance(None, step, full_keys, cfg.num_buckets)
        if compacted:
            # fold the politeness delta chain on the frontier's cadence
            psnap = self.politeness.compact(psnap)
        phase_t["side_commits"] = time.time() - t1

        if cfg.log_selection:
            sel_urls = [
                r["url"]
                for r in selected.orderBy("parent_rank").select("url").collect()
            ]
            self.state["selected_log"].append(sel_urls)
        self.state.update(
            {
                "superstep": step,
                "tick": tick,
                "pages": self.state["pages"] + n_selected,
                "frontier_upper": self.state.get("frontier_upper", 0) + n_allowed
                if self.state.get("frontier_upper") is not None
                else None,
                "snapshots": {
                    "frontier": fsnap,
                    "politeness": psnap,
                    "payload": paysnap,
                    "lineage": lsnap,
                    "extraction": extsnap,
                },
                "filter_step": step,
            }
        )
        self._commit_state()
        self._write_clock(tick)

        for df in (
            frontier, politeness, selected, fetched, candidates, probed,
            new_rows, outcome_src, upsert,
        ):
            df.unpersist()
        phase_t["total"] = time.time() - t0
        phase_t["n_selected"] = n_selected
        self.timings.append({k: round(v, 3) for k, v in phase_t.items()})
        return n_selected

    def run(self) -> dict:
        """The crawl loop (runner.py:680-785): supersteps until the
        frontier drains or the page budget is hit."""
        self.start()
        while self.state["pages"] < self.config.crawl_max_pages and not self.state["done"]:
            if self.superstep() == 0:
                break
        return self.state
