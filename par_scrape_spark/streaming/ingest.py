"""Structured Streaming surfaces (SURVEY §2.10 made concrete).

The reference (paulrobello/par_scrape) is batch-only; these are the
streaming analogues a continuously-fed crawl/curation pipeline needs,
built on the SAME policy functions and table store as the batch engine
— the streaming tier adds delivery semantics, not new business logic.

1. ``stream_ingest_seeds`` — a continuous seed/discovery feed (Kafka in
   production; file source in tests — the source is orthogonal) lands
   in the frontier table via ``foreachBatch``: validate → canonicalize
   → identity columns (url_hash/host/host_salt) → INSERT-OR-IGNORE
   against the live frontier (an anti-join per micro-batch: a URL the
   crawl already holds — queued, completed, or errored — is never
   clobbered by re-discovery, matching the batch engine's J2/J5
   semantics). Exactly-once: the sink is the engine's snapshot store,
   whose manifest commit is atomic; replaying a failed micro-batch
   re-runs the anti-join and inserts nothing new.
2. ``stream_quality_scores`` — stateless per-document quality scoring
   on a document stream (the batch quality expressions applied to a
   streaming frame unchanged — Catalyst treats them identically).
3. ``stream_lang_windowed`` — watermarked windowed aggregation
   (language distribution per event-time window, late data bounded by
   the watermark): the canonical stateful-streaming shape for
   monitoring an ingest feed.

Scale notes: foreachBatch bounds state to one micro-batch; the
anti-join right side is the frontier scan, which at 10^10 rows uses
the same bloom-prune + bounded-broadcast machinery as the batch
superstep (the micro-batch side is small, so Catalyst broadcasts IT,
never the frontier). The windowed agg holds only per-(window, lang)
counters and expires them at the watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from par_scrape_spark.functions.urls import valid_url_udf, with_url_identity
from par_scrape_spark.schemas import align_frontier
from par_scrape_spark.tableio import SnapshotTable

# queued_seq space per micro-batch: batch b occupies
# [base + b*SEQ_STRIDE, base + b*SEQ_STRIDE + rows) — deterministic
# under replay (seq depends only on (batch_id, url sort order))
SEQ_STRIDE = 1 << 30


def stream_ingest_seeds(
    url_stream: DataFrame,
    frontier: SnapshotTable,
    run: str,
    num_buckets: int = 8,
    seq_base: int = 0,
    checkpoint_dir: str | None = None,
    url_col: str = "url",
):
    """Attach a streaming URL feed to the frontier table.

    Returns the started ``StreamingQuery``; callers own its lifecycle
    (tests use ``trigger(availableNow=True)`` + ``awaitTermination``).
    """

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        batch = (
            batch_df.select(F.col(url_col).alias("url"))
            .filter(F.col("url").isNotNull() & valid_url_udf(F.col("url")))
            .dropDuplicates(["url"])
        )
        batch = with_url_identity(batch, num_buckets=num_buckets)
        # canonicalization can collapse distinct raw URLs — dedup again
        batch = batch.dropDuplicates(["url"]).withColumn("run", F.lit(run))
        # INSERT-OR-IGNORE: never clobber URLs the crawl already holds
        existing = frontier.read().select("run", "url")
        fresh = batch.join(existing, ["run", "url"], "left_anti")
        from pyspark.sql import Window

        w = Window.orderBy("url")  # micro-batch-bounded rows only
        rows = (
            fresh.withColumn(
                "queued_seq",
                (
                    F.lit(seq_base + batch_id * SEQ_STRIDE)
                    + F.row_number().over(w)
                    - 1
                ).cast("long"),
            )
            .withColumn("status", F.lit("queued"))
            .withColumn("depth", F.lit(0))
            .withColumn("attempts", F.lit(0))
            .withColumn("priority", F.lit(0).cast("long"))
            .withColumn("queued_at", F.lit(batch_id).cast("long"))
        )
        frontier.commit_upsert(align_frontier(rows))

    writer = url_stream.writeStream.foreachBatch(_ingest).trigger(
        availableNow=True
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def stream_quality_scores(doc_stream: DataFrame, text_col: str = "text") -> DataFrame:
    """Stateless streaming quality scoring — the batch expressions
    applied to a streaming frame verbatim (t_quality_score's shape)."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    n_chars = F.length(text)
    n_tokens = F.size(F.split(F.trim(text), "\\s+"))
    alpha_ratio = F.length(F.regexp_replace(text, "[^a-zA-Z]", "")) / F.greatest(
        n_chars, F.lit(1)
    )
    punct_ratio = F.length(
        F.regexp_replace(text, "[^.,;:!?]", "")
    ) / F.greatest(n_chars, F.lit(1))
    score = F.round(
        F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * 0.5
        + alpha_ratio * 0.4
        + (F.lit(1.0) - F.least(punct_ratio * 10, F.lit(1.0))) * 0.1,
        6,
    )
    return doc_stream.withColumn("quality", score)


def stream_lang_windowed(
    doc_stream: DataFrame,
    ts_col: str = "ts",
    lang_col: str = "lang",
    window_len: str = "10 seconds",
    watermark: str = "30 seconds",
) -> DataFrame:
    """Watermarked windowed language distribution over an ingest feed:
    late rows beyond ``watermark`` are dropped and window state is
    expired — bounded state at any feed rate.

    Consumption contract: sink in ``update`` mode for live monitoring
    (windows emitted as counts change) — this is the mode bounded
    ``availableNow`` drains must use, since the watermark
    (max event time − ``watermark``) only advances *between*
    micro-batches and so never closes a window within a single bounded
    batch. Use ``append`` mode only for a continuous feed where
    downstream needs each window exactly once, finalized.
    """
    return (
        doc_stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_len), F.col(lang_col))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("win_start"),
            F.col(lang_col),
            "n",
        )
    )
