"""Library API: the engine's equivalent of ``from par_scrape import scrape``.

Mirrors the reference surface (/root/reference/src/par_scrape/api.py:30-196):
``scrape()`` runs a crawl and returns a ``ScrapeResult`` whose pages are
projections of the frontier table; per-page failures never raise — they
surface as error-status rows (api.py:133-135). The queue-management
helpers mirror the reference CLI (queue_cli.py:30-119).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from par_scrape_spark.config import CrawlConfig, CrawlType, PageStatus
from par_scrape_spark.operators import stats
from par_scrape_spark.plans.crawl import CrawlEngine


@dataclass
class PageResult:
    """One crawled page (reference api.py:30-47)."""

    url: str
    status: str
    error_type: str | None = None
    error_message: str | None = None
    attempts: int = 0
    file_refs: dict[str, str] = field(default_factory=dict)


@dataclass
class ScrapeResult:
    """Whole-run result (reference api.py:50-67)."""

    run_name: str
    warehouse: str
    pages: list[PageResult]
    supersteps: int = 0

    @property
    def ok(self) -> bool:
        return all(p.status == PageStatus.COMPLETED.value for p in self.pages)


def scrape(
    spark: SparkSession,
    url: str | list[str],
    *,
    run_name: str = "run",
    warehouse: str,
    crawl_type: CrawlType = CrawlType.SINGLE_PAGE,
    crawl_batch_size: int = 1,
    crawl_max_pages: int = 100,
    scrape_retries: int = 3,
    respect_rate_limits: bool = True,
    respect_robots: bool = True,
    crawl_delay: int = 1,
    web_seed: int = 42,
    if_changed: bool = False,
    max_depth: int | None = None,
    prune: bool = False,
    extract_fields: tuple[str, ...] = (),
    extraction_prompt: str | None = None,
    output_formats: tuple[str, ...] = (),
    ai_provider: str | None = None,
    model: str | None = None,
    prompt_cache: bool = False,
    ai_base_url: str | None = None,
    scraper: str = "playwright",
    headless: bool = False,
    wait_type: str = "sleep",
    wait_selector: str | None = None,
    sleep_time: float = 2.0,
    scrape_max_parallel: int = 1,
) -> ScrapeResult:
    """Run a crawl and materialize its per-page results.

    Defaults follow the reference CLI (__main__.py:110-117,241-260):
    single_page, batch 1, 100 pages, 3 retries. Invalid LLM/extraction
    option combinations raise CrawlConfigError / ProviderConfigError
    BEFORE any crawl work starts (reference api.py:49-56,
    runner.py:244-298; tests/test_api.py:26-74 parity).
    """
    from par_scrape_spark.config import FetchOptions
    from par_scrape_spark.llm_options import CrawlConfigError, validate_llm_options

    validate_llm_options(
        output_formats=output_formats,
        extract_fields=extract_fields,
        ai_provider=ai_provider,
        model=model,
        prompt_cache=prompt_cache,
        ai_base_url=ai_base_url,
    )
    try:
        fetch_options = FetchOptions(
            scraper=scraper,
            headless=headless,
            wait_type=wait_type,
            wait_selector=wait_selector,
            sleep_time=sleep_time,
            scrape_max_parallel=scrape_max_parallel,
        )
    except ValueError as e:
        # same pre-crawl fail-fast contract as the LLM options
        # (reference __main__.py:101-160 enum/selector validation)
        raise CrawlConfigError(str(e)) from e
    seeds = tuple([url] if isinstance(url, str) else url)
    cfg = CrawlConfig(
        run_name=run_name,
        seeds=seeds,
        crawl_type=CrawlType(crawl_type),
        crawl_batch_size=crawl_batch_size,
        crawl_max_pages=crawl_max_pages,
        scrape_retries=scrape_retries,
        respect_rate_limits=respect_rate_limits,
        respect_robots=respect_robots,
        crawl_delay=crawl_delay,
        web_seed=web_seed,
        if_changed=if_changed,
        max_depth=max_depth,
        prune=prune,
        extract_fields=tuple(extract_fields),
        extraction_prompt=extraction_prompt,
        fetch_options=fetch_options,
    )
    engine = CrawlEngine(spark, cfg, warehouse)
    state = engine.run()
    frontier = engine.frontier.read(state["snapshots"].get("frontier"))
    rows = stats.get_run_pages(frontier, run_name).collect()
    pages = [
        PageResult(
            url=r["url"],
            status=r["status"],
            error_type=r["error_type"],
            error_message=r["error_msg"],
            attempts=r["attempts"],
            file_refs=dict(r["file_refs"] or {}),
        )
        for r in rows
    ]
    return ScrapeResult(
        run_name=run_name,
        warehouse=warehouse,
        pages=pages,
        supersteps=state["superstep"],
    )


# ----------------------------------------------------- queue management
# DataFrame re-expressions of `par_scrape queue list|status|retry|reset`
# (reference queue_cli.py:30-119). Mutations commit a new snapshot.


def queue_list(engine: CrawlEngine) -> DataFrame:
    """`queue list` — per-run status counts (A2)."""
    return stats.list_runs(engine.frontier.read())


def queue_status(engine: CrawlEngine, run: str) -> DataFrame:
    """`queue status RUN` — zero-filled per-status counts (A1)."""
    return stats.queue_stats(engine.frontier.read(), run)


def queue_retry(engine: CrawlEngine, run: str) -> int:
    """`queue retry RUN` — requeue errored pages (O6); returns count."""
    changed = stats.requeue_errors(engine.frontier.read(), run)
    n = changed.count()
    if n:
        snap = engine.frontier.commit_upsert(changed)
        engine.state["snapshots"]["frontier"] = snap
        engine.state["done"] = False
        engine._commit_state()
    return n


def queue_reset(engine: CrawlEngine, run: str) -> int:
    """`queue reset RUN` — delete the run's rows (O7); returns count."""
    frontier = engine.frontier.read()
    n = frontier.filter(frontier.run == run).count()
    snap = engine.frontier.commit_overwrite(stats.delete_run(frontier, run))
    engine.state["snapshots"]["frontier"] = snap
    engine._commit_state()
    return n


# ----------------------------------------------------- exports (S6)


def _markdown_table(pdf) -> str:
    """df.to_markdown analogue without the tabulate dependency
    (reference scrape_data.py:231)."""
    cols = [str(c) for c in pdf.columns]
    cells = [[("" if v is None else str(v)) for v in row] for row in pdf.itertuples(index=False)]
    widths = [
        max(len(cols[i]), *(len(r[i]) for r in cells)) if cells else len(cols[i])
        for i in range(len(cols))
    ]
    def _row(vals):
        return "| " + " | ".join(v.ljust(w) for v, w in zip(vals, widths)) + " |"
    lines = [_row(cols), "|" + "|".join("-" * (w + 2) for w in widths) + "|"]
    lines += [_row(r) for r in cells]
    return "\n".join(lines) + "\n"


def render_extraction(
    extraction: DataFrame,
    fields: tuple[str, ...] | list[str],
    fmt: str,
) -> str:
    """--display-output rendering (reference __main__.py:599-612 via
    par_ai_core display_formatted_output): the extracted table as
    terminal text in md/csv/json. Driver-side toPandas convenience —
    display is a human-scale surface, never part of the data path."""
    from par_scrape_spark.operators.extraction import explode_listings

    pdf = explode_listings(extraction, list(fields)).toPandas()
    if fmt == "md":
        return _markdown_table(pdf)
    if fmt == "csv":
        return pdf.to_csv(index=False)
    if fmt == "json":
        import json as _json

        return _json.dumps(pdf.to_dict(orient="records"), indent=2)
    raise ValueError(f"unsupported display format {fmt!r}")


def export_extraction(
    extraction: DataFrame,
    fields: tuple[str, ...] | list[str],
    out_dir: str,
    formats: tuple[str, ...] = ("json",),
) -> dict[str, str]:
    """S6 for extracted listings (save_formatted_data parity, reference
    scrape_data.py:148-239): the runtime StructType is applied via
    explode_listings, spreadsheet formulas are neutralized for csv/excel
    (CWE-1236, scrape_data.py:139-145 — markdown uses the raw values like
    the reference), json/csv write distributed, excel/markdown are
    driver-side toPandas conveniences (SURVEY §1.4).

    QA-010 contract: a requested format that cannot be written raises —
    callers must surface it as a failure, never a silent skip.
    """
    import os

    from pyspark.sql import functions as F

    from par_scrape_spark.functions.urls import neutralize_formula_col
    from par_scrape_spark.operators.extraction import explode_listings

    wide = explode_listings(extraction, list(fields))
    # formula neutralization applies to spreadsheet formats ONLY
    # (csv/excel, CWE-1236); json and markdown carry the raw values like
    # the reference (scrape_data.py:139-145 neutralizes the DataFrame it
    # writes to csv/excel but save_formatted_data dumps raw json) —
    # neutralizing json would corrupt e.g. negative numbers (ADVICE r2)
    safe = wide.select(
        "run",
        "url",
        "listing_idx",
        *[neutralize_formula_col(F.col(f)).alias(f) for f in fields],
    )
    os.makedirs(out_dir, exist_ok=True)
    paths: dict[str, str] = {}
    for fmt in formats:
        path = f"{out_dir.rstrip('/')}/extracted_data.{fmt}"
        if fmt == "json":
            wide.write.mode("overwrite").json(path)
        elif fmt == "csv":
            safe.write.mode("overwrite").option("header", True).csv(path)
        elif fmt == "md":
            with open(path, "w", encoding="utf-8") as f:
                f.write(_markdown_table(wide.toPandas()))
        elif fmt == "excel":
            try:
                import openpyxl  # noqa: F401
            except ImportError as e:
                # QA-010: surfaced, not skipped (this container ships no
                # xlsx writer; the code path is real and tested via mock)
                raise RuntimeError(f"Failed to save Excel output: {e}") from e
            path = f"{out_dir.rstrip('/')}/extracted_data.xlsx"
            safe.toPandas().to_excel(path, index=False)
        else:
            raise ValueError(f"unsupported export format {fmt!r}")
        paths[fmt] = path
    return paths
