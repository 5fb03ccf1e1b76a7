"""Queue inspection & repair operators (A1/A2, J4, O3/O6/O7).

DataFrame re-expressions of the reference's repository helpers
(/root/reference/src/par_scrape/queue_db.py) and queue CLI
(queue_cli.py:30-119). Each returns a DataFrame; callers commit the
result where the operator is a mutation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from par_scrape_spark.config import PageStatus

ALL_STATUSES = [s.value for s in PageStatus]


def queue_stats(frontier: DataFrame, run: str) -> DataFrame:
    """A1 (queue_db.py:266-289): per-status counts, zero-filled over all
    four statuses — one groupBy instead of four COUNT(*)s, with the
    zero-fill done by a right join against the literal status frame."""
    statuses = frontier.sparkSession.createDataFrame(
        [(s,) for s in ALL_STATUSES], ["status"]
    )
    counts = frontier.filter(F.col("run") == run).groupBy("status").count()
    return (
        counts.join(statuses, "status", "right")
        .select("status", F.coalesce("count", F.lit(0)).alias("n"))
    )


def list_runs(frontier: DataFrame) -> DataFrame:
    """A2 (queue_db.py:671-689): per-(run, status) counts pivoted to one
    row per run, zero-filled."""
    return (
        frontier.groupBy("run")
        .pivot("status", ALL_STATUSES)
        .count()
        .na.fill(0, ALL_STATUSES)
    )


def get_run_pages(frontier: DataFrame, run: str) -> DataFrame:
    """O3 (queue_db.py:692-710): the run's rows ordered by URL."""
    return (
        frontier.filter(F.col("run") == run)
        .select("url", "status", "error_type", "error_msg", "attempts", "file_refs")
        .orderBy("url")
    )


def get_url_depth(frontier: DataFrame, run: str, url: str) -> int:
    """Public depth lookup (reference queue_db.py:490-509, re-exported
    via the crawl shim): the stored BFS depth for a queued URL, 0 when
    absent. The engine itself never needs this — depth rides the row
    through the explode (operators/links.py child_candidates) — it
    exists for reference-API parity. Matches on the reference's
    trailing-slash-trimmed key (C5, queue_db.py:507)."""
    rows = (
        frontier.filter(
            (F.col("run") == run) & (F.col("url") == url.rstrip("/"))
        )
        .select("depth")
        .limit(1)
        .collect()
    )
    return int(rows[0]["depth"]) if rows else 0


def find_completed_by_hash(
    frontier: DataFrame, url: str, content_hash: str, exclude_run: str
) -> DataFrame:
    """J4 (queue_db.py:626-668): most recent completed row for
    (url, content_hash) in another run — equi-filter + top-1 by the
    insertion sequence (the reference's ORDER BY rowid DESC LIMIT 1)."""
    w = Window.partitionBy("url", "content_hash").orderBy(F.col("queued_seq").desc())
    return (
        frontier.filter(
            (F.col("url") == url)
            & (F.col("content_hash") == content_hash)
            & (F.col("status") == PageStatus.COMPLETED.value)
            & (F.col("run") != exclude_run)
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("run", "url", "content_hash", "file_refs")
    )


def requeue_errors(frontier: DataFrame, run: str) -> DataFrame:
    """O6 (queue_db.py:713-735): reset every errored page of the run to
    queued, clearing errors and attempts. Returns the *changed rows only*
    (upsert payload for the snapshot table)."""
    return (
        frontier.filter(
            (F.col("run") == run) & (F.col("status") == PageStatus.ERROR.value)
        )
        .withColumn("status", F.lit(PageStatus.QUEUED.value))
        .withColumn("error_msg", F.lit(None).cast("string"))
        .withColumn("error_type", F.lit(None).cast("string"))
        .withColumn("attempts", F.lit(0))
    )


def delete_run(frontier: DataFrame, run: str) -> DataFrame:
    """O7 (queue_db.py:738-755): frontier with the run's rows removed
    (caller overwrite-commits)."""
    return frontier.filter(F.col("run") != run)


def cost_summary(
    frontier: DataFrame, run: str, provider: str, model: str
) -> DataFrame:
    """A5 surface for --pricing (reference runner.py:781-785 show_llm_cost
    via the usage callback): roll the run's accumulated per-page ``cost``
    column (A5, plans/crawl.py superstep rollup) into the end-of-run
    summary, keyed by provider/model. One row per (provider, model) — a
    run resolves exactly one of each, so the grouping is literal columns
    over a single scalar agg (no shuffle beyond the partial-agg tree)."""
    agg = frontier.filter(F.col("run") == run).agg(
        F.count("*").alias("pages"),
        F.sum(
            F.when(F.coalesce(F.col("cost"), F.lit(0.0)) > 0, 1).otherwise(0)
        ).alias("billed_pages"),
        F.round(F.sum(F.coalesce(F.col("cost"), F.lit(0.0))), 9).alias(
            "total_cost"
        ),
    )
    return agg.select(
        F.lit(provider).alias("provider"),
        F.lit(model).alias("model"),
        "pages",
        "billed_pages",
        "total_cost",
    )
