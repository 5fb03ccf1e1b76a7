"""Parallel deterministic dense ranking.

A global ``row_number()`` window with no partition key moves every row
to ONE partition — fine for a 100-row batch, a serial bottleneck for a
100k-host one, and unusable at the 10^10 design point. This module
computes the same dense rank in parallel:

1. ``repartitionByRange`` on the order key (sampled boundaries — the
   *placement* is sampled but the produced rank depends only on the
   total order, which the caller guarantees unique, so the output is
   deterministic),
2. local sort + per-partition ``row_number`` (parallel: the window is
   keyed by partition id),
3. per-partition counts → cumulative offsets (one tiny collect),
4. ``rank = offset[pid] + local_rn - 1``.

This is SURVEY §2.5 W3 made concrete: the reference's candidate-pool
over-fetch (queue_db.py:389-406) done distribution-aware.

Known hazard: the pinned layout is an eager ``localCheckpoint``, whose
``LogicalRDD`` leaf keeps its attribute ids in its canonical form. When
a query reaches the ranked rows twice (the crawl superstep does, for
resets, politeness and the lineage union), the analyzer renews one copy
with fresh ids and cached plans above it stop matching, so their inputs
are recomputed. The scheduler's pool cut dropped its checkpoint for
this reason; this one is kept because it makes the sampled range
boundaries deterministic. The scheduler only reaches it above 2^17
one-per-host candidates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dense_rank_parallel_with_count(
    df: DataFrame,
    order_cols: list[Column | str],
    out_col: str = "rank",
) -> tuple[DataFrame, int]:
    """dense_rank_parallel that also returns the total row count — free
    metadata from the per-partition offset collect, saving callers a
    separate count() job (the scheduler derives the batch size from it:
    n_selected = min(total, batch))."""
    return _dense_rank_impl(df, order_cols, out_col)


def dense_rank_parallel(
    df: DataFrame,
    order_cols: list[Column | str],
    out_col: str = "rank",
) -> DataFrame:
    """Attach a 0-based global dense rank by ``order_cols``.

    The order must be a total order (unique key) for determinism.

    The range-partitioned layout is pinned with an eager localCheckpoint
    BEFORE the per-partition counts are collected: repartitionByRange
    samples its boundaries, so without pinning, the offsets collected in
    one evaluation would be applied to a *re-sampled* layout in the next
    — silently corrupting ranks (observed as lost batch rows at 20k
    hosts). Callers pass host-bounded inputs (one row per candidate
    host), so the materialization is politeness-state-sized, not
    frontier-sized.
    """
    return _dense_rank_impl(df, order_cols, out_col)[0]


def _dense_rank_impl(
    df: DataFrame,
    order_cols: list[Column | str],
    out_col: str,
) -> tuple[DataFrame, int]:
    parted = (
        df.repartitionByRange(*order_cols)
        .sortWithinPartitions(*order_cols)
        .localCheckpoint(eager=True)
    )
    with_pid = parted.withColumn("_pid", F.spark_partition_id())
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    local = with_pid.withColumn("_lrn", F.row_number().over(w))

    counts = sorted(
        (r["_pid"], r["cnt"])
        for r in local.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    )
    offsets: dict[int, int] = {}
    acc = 0
    for pid, cnt in counts:
        offsets[pid] = acc
        acc += cnt
    if not offsets:
        return (
            df.withColumn(out_col, F.lit(0).cast("long")).drop("_pid", "_lrn"),
            0,
        )

    offset_expr = F.create_map(
        *[F.lit(x) for pid, off in offsets.items() for x in (pid, off)]
    )
    ranked = (
        local.withColumn(
            out_col,
            (F.element_at(offset_expr, F.col("_pid")) + F.col("_lrn") - 1).cast(
                "long"
            ),
        )
        .drop("_pid", "_lrn")
    )
    return ranked, acc
