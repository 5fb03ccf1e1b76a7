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
   W3). No probe decides whether it runs: it is skipped only when the
   caller's ``eligible_upper`` proves the cut cannot trigger, and it is
   never checkpointed: a checkpoint leaf under the batch breaks the
   engine's cache matching (see the pool-cut comment)
4. rate gate (F9, queue_db.py:416-418): host eligible when
   ``last_access == 0 OR tick - last_access >= crawl_delay`` — the
   reference applies this after the pool cut, so we do too (parity)
5. one-per-host (W1, queue_db.py:413-414):
   ``row_number() over (partition by host order by queued_seq) == 1``
6. batch cap (W2, queue_db.py:434-435): a second top-k takes the first
   ``batch`` hosts by the same ``(last_access, priority, queued_seq)``
   order; ``parent_rank`` is ``row_number() - 1`` over those ≤ batch
   rows. The window sits on the TakeOrderedAndProject, whose output is
   already one sorted partition, so it adds no exchange and no sort.

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


def _ranked_top(df: DataFrame, order: list[str], k: int) -> DataFrame:
    """The first ``k`` rows by ``order`` (a total order), with
    ``parent_rank`` their 0-based position. The global window only ever
    sees the ≤ k rows of the top-k."""
    w = Window.orderBy(*order)
    return (
        df.orderBy(*order)
        .limit(k)
        .withColumn("parent_rank", (F.row_number().over(w) - 1).cast("long"))
    )


def select_batch(
    frontier: DataFrame,
    politeness: DataFrame,
    run: str,
    tick: int,
    batch_size: int,
    retries: int = 3,
    respect_rate_limits: bool = True,
    eligible_upper: int | None = None,
) -> DataFrame:
    """Select the next batch. Returns the chosen frontier rows plus
    ``last_access``, ``crawl_delay``, and ``parent_rank`` (0-based batch
    position, the deterministic input to child queued_seq assignment).
    ``eligible_upper``: a caller-tracked upper bound on the eligible row
    count; when it proves the pool cut cannot trigger, the pool top-k is
    skipped."""
    eligible = eligible_rows(frontier, run, retries)

    if not respect_rate_limits:
        return (
            _ranked_top(eligible, ["queued_seq"], batch_size)
            .withColumn("last_access", F.lit(0).cast("long"))
            .withColumn("crawl_delay", F.lit(1))
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
        pool = joined  # proven: the cut cannot trigger
    else:
        pool = joined.orderBy(*order).limit(pool_size)

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
    return _ranked_top(first_per_host, order, batch_size)


def select_batch_with_count(*args, **kwargs) -> tuple[DataFrame, None]:
    """Compatibility form of select_batch for the benchmark's superstep
    replay: the batch plus no count (callers count the batch)."""
    return select_batch(*args, **kwargs), None
