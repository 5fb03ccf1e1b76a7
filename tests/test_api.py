"""Library API surface tests (reference tests/test_api.py:26-74 shape)."""

import shutil
import tempfile

import pytest

from par_scrape_spark import api
from par_scrape_spark.config import CrawlType


@pytest.mark.slow
def test_scrape_single_page(spark):
    wh = tempfile.mkdtemp(prefix="api_")
    try:
        result = api.scrape(
            spark,
            "http://site-00000.example",
            run_name="api1",
            warehouse=wh,
            crawl_type=CrawlType.SINGLE_PAGE,
        )
        assert result.run_name == "api1"
        assert len(result.pages) == 1
        assert result.pages[0].status == "completed"
        assert result.ok
        assert "md" in result.pages[0].file_refs
    finally:
        shutil.rmtree(wh, ignore_errors=True)


@pytest.mark.slow
def test_scrape_errors_surface_as_rows(spark):
    # flavor-7 host is unreachable → error rows, never an exception
    wh = tempfile.mkdtemp(prefix="api_")
    try:
        # site-00004 is an unreachable host in the seeded synthetic web
        result = api.scrape(
            spark,
            [f"http://site-{i:05d}.example" for i in range(2, 6)],
            run_name="api2",
            warehouse=wh,
            crawl_type=CrawlType.SINGLE_PAGE,
            crawl_batch_size=4,
            crawl_max_pages=4,
            scrape_retries=1,
        )
        statuses = {p.url: p.status for p in result.pages}
        assert len(statuses) == 4
        assert "error" in statuses.values()  # synthetic web has down hosts
        errored = [p for p in result.pages if p.status == "error"]
        assert all(p.error_type in ("network", "timeout") for p in errored)
        assert not result.ok
    finally:
        shutil.rmtree(wh, ignore_errors=True)


@pytest.mark.slow
def test_queue_management(spark):
    wh = tempfile.mkdtemp(prefix="api_")
    try:
        from par_scrape_spark.config import CrawlConfig
        from par_scrape_spark.plans.crawl import CrawlEngine

        cfg = CrawlConfig(
            run_name="q1",
            seeds=tuple(f"http://site-{i:05d}.example" for i in range(4)),
            crawl_type=CrawlType.SINGLE_PAGE,
            crawl_batch_size=4,
            crawl_max_pages=4,
            scrape_retries=1,
        )
        engine = CrawlEngine(spark, cfg, wh)
        engine.run()

        status = {r["status"]: r["n"] for r in api.queue_status(engine, "q1").collect()}
        assert sum(status.values()) == 4
        runs = api.queue_list(engine).collect()
        assert [r["run"] for r in runs] == ["q1"]

        n_err = status.get("error", 0)
        assert api.queue_retry(engine, "q1") == n_err
        status2 = {r["status"]: r["n"] for r in api.queue_status(engine, "q1").collect()}
        assert status2.get("error", 0) == 0
        assert status2.get("queued", 0) == n_err

        assert api.queue_reset(engine, "q1") == 4
        assert api.queue_status(engine, "q1").agg({"n": "sum"}).collect()[0][0] == 0
    finally:
        shutil.rmtree(wh, ignore_errors=True)


def test_scrape_rejects_unknown_keyword():
    # a misspelled option must fail loudly, not crawl with the default
    # (Spark-free: the call is rejected before the body runs)
    with pytest.raises(TypeError):
        api.scrape(
            None,
            "http://site-00000.example",
            warehouse=tempfile.gettempdir(),
            crawl_max_page=5,
        )
