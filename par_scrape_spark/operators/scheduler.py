"""Frontier scheduler: politeness-gated, one-URL-per-host batch selection.

The reference scheduler (/root/reference/src/par_scrape/queue_db.py:358-466)
is a procedural loop, but semantically it is ONE windowed ranking query
(SURVEY §2.5). This module states it declaratively:

1. eligibility (F8, queue_db.py:400-401):
   ``status='queued' OR (status='error' AND attempts < retries)``
2. politeness join (J1, queue_db.py:395-406): frontier ⋈ politeness on
   host — broadcast hash join (the politeness table is host-cardinality,
   far smaller than the frontier)
3. candidate pool (queue_db.py:393): top ``max(batch*25, 100)`` rows by
   ``(last_access, priority, queued_seq)`` — a lazy orderBy+limit that
   Spark compiles to TakeOrderedAndProject (per-partition top-k, no full
   sort; this is the reference's over-fetch made distribution-aware,
   W3). It is never checkpointed: a checkpoint leaf under the batch
   breaks the engine's cache matching (see the pool-cut comment)
4. rate gate (F9, queue_db.py:416-418): host eligible when
   ``last_access == 0 OR tick - last_access >= crawl_delay`` — the
   reference applies this after the pool cut, so we do too (parity)
5. one-per-host (W1, queue_db.py:413-414):
   ``row_number() over (partition by host order by queued_seq) == 1``
6. batch cap (W2, queue_db.py:434-435): hosts ordered by
   ``(last_access, first queued_seq)``, first ``batch`` taken.

Every tie is broken by ``queued_seq`` — the engine's deterministic
insertion sequence — so selection order is a pure function of state
(north_rule bit-for-bit replay; the reference's implicit tiebreak is
SQLite rowid scan order, which our ``queued_seq`` mirrors by
construction).

Time is the logical superstep tick, never wall clock.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from par_scrape_spark.config import CANDIDATE_POOL_FACTOR, CANDIDATE_POOL_MIN, PageStatus
from par_scrape_spark.operators.ranking import dense_rank_parallel_with_count

# Below this many one-per-host candidates the batch rank runs as a
# single-partition window (a sub-millisecond sort riding the result
# job) instead of the 3-job parallel dense rank; above it, the parallel
# rank keeps the sort distributed. An algorithm switch on measured
# cardinality, not a local-mode tune: 2^17 rows is a trivial single-task
# sort on any executor, web-scale host counts take the parallel path.
SINGLE_PARTITION_RANK_MAX = 1 << 17


def eligible_rows(frontier: DataFrame, run: str, retries: int) -> DataFrame:
    """F8: queued rows plus retryable errored rows."""
    return frontier.filter(
        (F.col("run") == run)
        & (
            (F.col("status") == PageStatus.QUEUED.value)
            | (
                (F.col("status") == PageStatus.ERROR.value)
                & (F.col("attempts") < retries)
            )
        )
    )


def select_batch(
    frontier: DataFrame,
    politeness: DataFrame,
    run: str,
    tick: int,
    batch_size: int,
    retries: int = 3,
    respect_rate_limits: bool = True,
) -> DataFrame:
    """Select the next batch. Returns the chosen frontier rows plus
    ``last_access``, ``crawl_delay``, and ``parent_rank`` (0-based batch
    position, the deterministic input to child queued_seq assignment)."""
    return select_batch_with_count(
        frontier, politeness, run, tick, batch_size, retries, respect_rate_limits
    )[0]


def select_batch_with_count(
    frontier: DataFrame,
    politeness: DataFrame,
    run: str,
    tick: int,
    batch_size: int,
    retries: int = 3,
    respect_rate_limits: bool = True,
    eligible_upper: int | None = None,
) -> tuple[DataFrame, int | None]:
    """select_batch plus the exact selected-row count when it is free
    metadata (min(one-per-host candidates, batch) from the parallel
    rank's offset collect) — saving the engine one count() job per
    superstep. ``eligible_upper``: a caller-tracked upper bound on the
    eligible row count; when it proves the pool cut cannot trigger, the
    top-k is skipped entirely. Returns (batch_df, n or None)."""
    eligible = eligible_rows(frontier, run, retries)

    if not respect_rate_limits:
        pool = eligible.orderBy("queued_seq").limit(batch_size)
        w = Window.orderBy("queued_seq")  # batch-bounded rows only
        return (
            pool.withColumn("parent_rank", (F.row_number().over(w) - 1).cast("long"))
            .withColumn("last_access", F.lit(0).cast("long"))
            .withColumn("crawl_delay", F.lit(1)),
            None,
        )

    pol = politeness.select("host", "last_access", "crawl_delay")
    joined = eligible.join(F.broadcast(pol), "host", "left").fillna(
        {"last_access": 0, "crawl_delay": 1}
    )

    order = ["last_access", "priority", "queued_seq"]
    # Pool cut (queue_db.py:393): load-bearing only when more candidates
    # exist than the pool admits; the common case (politeness-bounded
    # batches sized to the host count) skips the top-k entirely. The cut
    # is a lazy top-k: the order is total, and the limit keeps every row
    # when fewer than pool_size survive, so no count probe is needed.
    # Pools too large for a driver-merged top-k first probe (LIMIT
    # pool+1 count) whether the cut triggers at all.
    #
    # No checkpoint may sit under the batch. The engine's superstep
    # reaches the cached batch twice in one query (resets, politeness,
    # the lineage union), and the analyzer renews one of the repeated
    # leaves with fresh attribute ids. A checkpoint leaf (LogicalRDD)
    # keeps those ids in its canonical form, so every cached plan above
    # it (batch, fetch, probe) stops matching and the fetch/robots/probe
    # Python chain reruns in each commit. A cached leaf
    # (InMemoryRelation) normalizes its output and keeps matching.
    pool_size = max(batch_size * CANDIDATE_POOL_FACTOR, CANDIDATE_POOL_MIN)
    if eligible_upper is not None and eligible_upper <= pool_size:
        pool = joined  # proven: the cut cannot trigger; skip the top-k
    elif pool_size <= 100_000 or joined.limit(pool_size + 1).count() > pool_size:
        pool = joined.orderBy(*order).limit(pool_size)
    else:
        pool = joined

    gated = pool.filter(
        (F.col("last_access") == 0)
        | (F.lit(tick) - F.col("last_access") >= F.col("crawl_delay"))
    )

    per_host = Window.partitionBy("host").orderBy("priority", "queued_seq")
    first_per_host = (
        gated.withColumn("_hrn", F.row_number().over(per_host))
        .filter(F.col("_hrn") == 1)
        .drop("_hrn")
    )

    # Dense-seq fast path: when every candidate shares one
    # (last_access, priority) and the queued_seqs are consecutive, the
    # batch rank is just ``queued_seq - min`` — a pure column expression
    # needing no rank materialization. One cheap agg proves it (count ==
    # max-min+1 over unique seqs), replacing the parallel dense rank's
    # three jobs (range-sample, checkpoint, offset collect) with one.
    # This is the dominant shape in practice — a fresh frontier, or any
    # superstep where all hosts were last touched at the same tick — and
    # it is deterministic under re-evaluation because the rank depends
    # only on row values, never on partition placement. Non-dense
    # supersteps pay the one probe agg and fall back.
    stats = first_per_host.agg(
        F.count("*").alias("n"),
        F.min("queued_seq").alias("mn"),
        F.max("queued_seq").alias("mx"),
        F.countDistinct("last_access").alias("nla"),
        F.countDistinct("priority").alias("npr"),
    ).collect()[0]
    total = int(stats["n"])
    if total == 0:
        return (
            first_per_host.withColumn("parent_rank", F.lit(0).cast("long")),
            0,
        )
    if (
        stats["nla"] == 1
        and stats["npr"] == 1
        and int(stats["mx"]) - int(stats["mn"]) + 1 == total
    ):
        ranked = first_per_host.withColumn(
            "parent_rank",
            (F.col("queued_seq") - F.lit(int(stats["mn"]))).cast("long"),
        )
    elif total <= SINGLE_PARTITION_RANK_MAX:
        # The candidate set is measured-small (one row per host, count
        # known for free from the stats agg): a single-partition window
        # sort of ``total`` rows costs milliseconds inside the result
        # job, while the parallel dense rank pays three fixed-latency
        # jobs (range-sample, checkpoint, offset collect). Same ranks —
        # row_number over the same total order.
        w = Window.orderBy(*order)
        ranked = first_per_host.withColumn(
            "parent_rank", (F.row_number().over(w) - 1).cast("long")
        )
    else:
        # Batch rank over one-row-per-host candidates (host-bounded):
        # the parallel dense rank avoids a single-partition window over
        # what is a #hosts-sized set at web scale.
        ranked, total = dense_rank_parallel_with_count(
            first_per_host, order, "parent_rank"
        )
    return (
        ranked.filter(F.col("parent_rank") < batch_size),
        min(total, batch_size),
    )
