"""Checkpoint/resume: a crawl interrupted after k supersteps and resumed
from its snapshot checkpoint must reach the same final state as the
uninterrupted run (north_rule resumability + L4 stale-active semantics).
"""

import json
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from par_scrape_spark.config import CrawlConfig, CrawlType, PageStatus
from par_scrape_spark.plans.crawl import CrawlEngine


def _cfg(run_name):
    return CrawlConfig(
        run_name=run_name,
        seeds=tuple(f"http://site-{i:05d}.example" for i in range(4)),
        crawl_type=CrawlType.DOMAIN,
        crawl_batch_size=3,
        crawl_max_pages=15,
        web_seed=42,
    )


def _final_rows(engine, state):
    frontier = engine.frontier.read(state["snapshots"]["frontier"])
    return {
        r["url"]: (r["status"], r["depth"], r["attempts"], r["queued_seq"])
        for r in frontier.collect()
    }


@pytest.mark.slow
def test_resume_matches_uninterrupted(spark):
    wh_a = tempfile.mkdtemp(prefix="res_a_")
    wh_b = tempfile.mkdtemp(prefix="res_b_")
    try:
        # uninterrupted reference run
        eng_a = CrawlEngine(spark, _cfg("res"), wh_a)
        state_a = eng_a.run()

        # interrupted run: stop after 2 supersteps, new engine resumes
        eng_b1 = CrawlEngine(spark, _cfg("res"), wh_b)
        eng_b1.start()
        eng_b1.superstep()
        eng_b1.superstep()

        eng_b2 = CrawlEngine(spark, _cfg("res"), wh_b)
        state_b = eng_b2.run()  # start() routes to resume()

        assert state_b["selected_log"] == state_a["selected_log"]
        assert _final_rows(eng_b2, state_b) == _final_rows(eng_a, state_a)
    finally:
        shutil.rmtree(wh_a, ignore_errors=True)
        shutil.rmtree(wh_b, ignore_errors=True)


@pytest.mark.slow
def test_stale_active_requeued(spark):
    """A crash between selection-mark and outcome-commit leaves rows
    ACTIVE; resume() must requeue them with attempts preserved."""
    wh = tempfile.mkdtemp(prefix="res_c_")
    try:
        eng = CrawlEngine(spark, _cfg("stale"), wh)
        eng.start()
        eng.superstep()
        # simulate the crash: force two frontier rows to ACTIVE
        frontier = eng.frontier.read(eng.state["snapshots"]["frontier"])
        victims = frontier.filter(
            F.col("status") == PageStatus.QUEUED.value
        ).limit(2).withColumn("status", F.lit(PageStatus.ACTIVE.value))
        snap = eng.frontier.commit_upsert(victims)
        eng.state["snapshots"]["frontier"] = snap
        eng._commit_state()
        victim_urls = {r["url"] for r in victims.collect()}
        victim_attempts = {r["url"]: r["attempts"] for r in victims.collect()}

        eng2 = CrawlEngine(spark, _cfg("stale"), wh)
        eng2.resume()
        frontier2 = eng2.frontier.read(eng2.state["snapshots"]["frontier"])
        got = {
            r["url"]: (r["status"], r["attempts"])
            for r in frontier2.collect()
            if r["url"] in victim_urls
        }
        for url in victim_urls:
            assert got[url] == (PageStatus.QUEUED.value, victim_attempts[url])
    finally:
        shutil.rmtree(wh, ignore_errors=True)


@pytest.mark.slow
def test_orphan_commits_not_resurrected(spark):
    """ADVICE r1 (high): a crash BETWEEN side-table commits and the
    RUN_STATE commit leaves orphan payload/lineage data in LATEST. The
    redone superstep must chain from the PINNED snapshots, so after
    resume + one more superstep the row counts equal an uninterrupted
    twin run's — the orphans stay invisible forever."""
    wh_a = tempfile.mkdtemp(prefix="orph_a_")
    wh_b = tempfile.mkdtemp(prefix="orph_b_")
    try:
        # uninterrupted twin
        eng_a = CrawlEngine(spark, _cfg("orph"), wh_a)
        eng_a.start()
        eng_a.superstep()
        eng_a.superstep()

        # victim: superstep 1 commits fine, then a redo-attempt of
        # superstep 2 crashes AFTER the payload/lineage/frontier commits
        # but BEFORE _commit_state — simulated by committing stray data
        # without touching RUN_STATE
        eng_b = CrawlEngine(spark, _cfg("orph"), wh_b)
        eng_b.start()
        eng_b.superstep()
        pinned = dict(eng_b.state["snapshots"])
        orphan_payload = eng_b.payload.read(pinned["payload"]).limit(7)
        eng_b.payload.commit_append(orphan_payload)  # orphan in LATEST
        orphan_lineage = eng_b.lineage.read(pinned["lineage"]).limit(3)
        eng_b.lineage.commit_append(orphan_lineage)
        frontier_orphan = eng_b.frontier.read(pinned["frontier"]).limit(1)
        eng_b.frontier.commit_upsert(
            frontier_orphan.withColumn("status", F.lit("error"))
        )

        # fresh engine resumes from RUN_STATE and redoes superstep 2
        eng_b2 = CrawlEngine(spark, _cfg("orph"), wh_b)
        eng_b2.start()  # routes to resume()
        eng_b2.superstep()

        for table in ("payload", "lineage"):
            n_a = getattr(eng_a, table).read(
                eng_a.state["snapshots"][table]
            ).count()
            n_b = getattr(eng_b2, table).read(
                eng_b2.state["snapshots"][table]
            ).count()
            assert n_b == n_a, f"{table}: orphan rows resurrected"
        assert _final_rows(eng_b2, eng_b2.state) == _final_rows(eng_a, eng_a.state)
        assert eng_b2.state["selected_log"] == eng_a.state["selected_log"]
    finally:
        shutil.rmtree(wh_a, ignore_errors=True)
        shutil.rmtree(wh_b, ignore_errors=True)


@pytest.mark.slow
def test_run_state_is_atomic_root(spark):
    """RUN_STATE.json pins per-table snapshots: a table commit without a
    state commit is invisible after resume (multi-table atomicity)."""
    wh = tempfile.mkdtemp(prefix="res_d_")
    try:
        eng = CrawlEngine(spark, _cfg("atomic"), wh)
        eng.start()
        eng.superstep()
        pinned = dict(eng.state["snapshots"])
        # a stray table commit after the state commit (simulated crash
        # mid-superstep before RUN_STATE was updated)
        frontier = eng.frontier.read(pinned["frontier"])
        eng.frontier.commit_upsert(
            frontier.limit(1).withColumn("status", F.lit("error"))
        )
        eng2 = CrawlEngine(spark, _cfg("atomic"), wh)
        eng2.resume()
        assert eng2.state["snapshots"]["frontier"] == pinned["frontier"]
        with open(eng2.state_path) as f:
            assert json.load(f)["snapshots"]["frontier"] == pinned["frontier"]
    finally:
        shutil.rmtree(wh, ignore_errors=True)


@pytest.mark.slow
def test_engine_releases_caches(spark):
    """start() and every superstep release what they cache: the engine
    holds no table image between supersteps (each superstep reads its
    pinned snapshots), so no persisted RDD exists after each call that
    did not exist before start() — compacting supersteps and pool-cut
    supersteps too. The test compares RDD ids, not counts: Spark's
    ContextCleaner may free RDDs that earlier tests left persisted at
    any point, which shrinks the count but never adds an id. 100 seeds
    fill the 100-row candidate pool of batch 4 exactly, so the cut
    first runs in superstep 2."""
    wh = tempfile.mkdtemp(prefix="res_cache_")
    try:
        cfg = CrawlConfig(
            run_name="cache",
            seeds=tuple(f"http://site-{i:05d}.example" for i in range(100)),
            crawl_type=CrawlType.DOMAIN,
            crawl_batch_size=4,
            crawl_max_pages=100,
            web_seed=42,
            compact_every=2,
        )
        jsc = spark.sparkContext._jsc

        def persisted() -> set[int]:
            return set(jsc.getPersistentRDDs().keySet())

        before = persisted()
        eng = CrawlEngine(spark, cfg, wh)
        eng.start()
        assert persisted() - before == set(), "after start()"
        for step in range(1, 4):
            assert eng.superstep() > 0
            assert persisted() - before == set(), f"after superstep {step}"
    finally:
        shutil.rmtree(wh, ignore_errors=True)
