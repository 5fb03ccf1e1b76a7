"""Scheduler unit tests on hand-built frontier/politeness frames, plus
physical-plan assertions (top-k without full sort, broadcast politeness
join)."""

import pytest
from pyspark.sql import functions as F

from par_scrape_spark.config import PageStatus
from par_scrape_spark.operators.scheduler import select_batch
from par_scrape_spark.schemas import FRONTIER_SCHEMA, POLITENESS_SCHEMA


def _frontier(spark, rows):
    """rows: (url, host, status, attempts, priority, queued_seq)"""
    data = [
        {
            "run": "r",
            "url": u,
            "url_hash": hash(u),
            "host": h,
            "host_salt": 0,
            "status": s,
            "attempts": a,
            "depth": 0,
            "priority": p,
            "queued_seq": q,
            "cost": 0.0,
        }
        for (u, h, s, a, p, q) in rows
    ]
    return spark.createDataFrame(data, FRONTIER_SCHEMA)


def _politeness(spark, rows):
    """rows: (host, last_access, crawl_delay)"""
    data = [
        {
            "host": h,
            "last_access": la,
            "crawl_delay": d,
            "robots_rules": "",
            "robots_fetched": True,
            "allow_all": False,
        }
        for (h, la, d) in rows
    ]
    return spark.createDataFrame(data, POLITENESS_SCHEMA)


def test_one_per_host_and_order(spark):
    f = _frontier(
        spark,
        [
            ("u1", "a", "queued", 0, 0, 1),
            ("u2", "a", "queued", 0, 0, 2),  # same host: only u1 picked
            ("u3", "b", "queued", 0, 0, 3),
            ("u4", "c", "queued", 0, 0, 4),
        ],
    )
    p = _politeness(spark, [("a", 0, 1), ("b", 0, 1), ("c", 0, 1)])
    got = select_batch(f, p, "r", tick=1, batch_size=2).orderBy("parent_rank").collect()
    assert [r["url"] for r in got] == ["u1", "u3"]


def test_rate_limit_gate(spark):
    # host a accessed at tick 4 with delay 3 → not eligible at tick 5
    f = _frontier(
        spark,
        [("u1", "a", "queued", 0, 0, 1), ("u2", "b", "queued", 0, 0, 2)],
    )
    p = _politeness(spark, [("a", 4, 3), ("b", 1, 1)])
    got = select_batch(f, p, "r", tick=5, batch_size=2).collect()
    assert [r["url"] for r in got] == ["u2"]
    # at tick 7 host a becomes eligible; b has older last_access → b first
    got = (
        select_batch(f, p, "r", tick=7, batch_size=2)
        .orderBy("parent_rank")
        .collect()
    )
    assert [r["url"] for r in got] == ["u2", "u1"]


def test_error_retry_eligibility(spark):
    f = _frontier(
        spark,
        [
            ("u1", "a", "error", 2, 0, 1),   # attempts < retries → eligible
            ("u2", "b", "error", 3, 0, 2),   # attempts == retries → not
            ("u3", "c", "completed", 1, 0, 3),
            ("u4", "d", "active", 1, 0, 4),
        ],
    )
    p = _politeness(spark, [("a", 0, 1), ("b", 0, 1), ("c", 0, 1), ("d", 0, 1)])
    got = select_batch(f, p, "r", tick=1, batch_size=10, retries=3).collect()
    assert [r["url"] for r in got] == ["u1"]


def test_priority_orders_within_host(spark):
    f = _frontier(
        spark,
        [
            ("u1", "a", "queued", 0, 5, 1),
            ("u2", "a", "queued", 0, 1, 2),  # better priority wins the host
        ],
    )
    p = _politeness(spark, [("a", 0, 1)])
    got = select_batch(f, p, "r", tick=1, batch_size=1).collect()
    assert [r["url"] for r in got] == ["u2"]


def _plan_nodes(node):
    """Every node of a physical plan (AQE's initial plan unwrapped)."""
    if node.nodeName() == "AdaptiveSparkPlan":
        node = node.executedPlan()
    kids = node.children()
    yield node
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def test_physical_plan_parallel_rank_and_broadcast(spark):
    """No global window sees more than the batch: every unkeyed window's
    input is the batch top-k (TakeOrderedAndProject with the batch
    limit), so it adds no exchange and no sort. The politeness join must
    be broadcast."""
    f = _frontier(
        spark, [(f"u{i}", f"h{i}", "queued", 0, 0, i) for i in range(50)]
    )
    p = _politeness(spark, [(f"h{i}", 0, 1) for i in range(50)])
    for respect in (True, False):
        df = select_batch(
            f, p, "r", tick=1, batch_size=4, respect_rate_limits=respect
        )
        nodes = list(_plan_nodes(df._jdf.queryExecution().executedPlan()))
        unkeyed = [
            n for n in nodes
            if n.nodeName() == "Window" and n.partitionSpec().isEmpty()
        ]
        assert unkeyed, "the batch rank window is missing"
        for w in unkeyed:
            child = w.child()
            assert child.nodeName() == "TakeOrderedAndProject", child.toString()
            assert child.limit() == 4
    # politeness join upstream is asserted on its own plan:
    joined = f.join(
        __import__("pyspark.sql.functions", fromlist=["broadcast"]).broadcast(
            p.select("host", "last_access", "crawl_delay")
        ),
        "host",
        "left",
    )
    jplan = joined._jdf.queryExecution().executedPlan().toString().lower()
    assert "broadcasthashjoin" in jplan


def test_status_values_complete():
    assert {s.value for s in PageStatus} == {"queued", "active", "completed", "error"}


def test_select_batch_with_count_and_pool_skip(spark):
    """The eligible_upper skip (no pool top-k) and the pool top-k return
    the same batch; the benchmark's compatibility form returns it with
    no count."""
    from par_scrape_spark.operators.scheduler import select_batch_with_count

    rows = [
        (f"u{i}", f"h{i % 9}", "queued", 0, 0, i) for i in range(40)
    ]
    f = _frontier(spark, rows)
    p = _politeness(spark, [(f"h{i}", 0, 1) for i in range(9)])

    topk_df, n = select_batch_with_count(f, p, "r", 1, 5)
    assert n is None
    skip_df = select_batch(f, p, "r", 1, 5, eligible_upper=40)
    assert topk_df.count() == skip_df.count() == 5  # min(9 hosts, batch 5)
    got_a = sorted((r["url"], r["parent_rank"]) for r in topk_df.collect())
    got_b = sorted((r["url"], r["parent_rank"]) for r in skip_df.collect())
    assert got_a == got_b

    # fewer candidates than batch: the batch is every candidate host
    assert select_batch(f, p, "r", 1, 100, eligible_upper=40).count() == 9
    assert select_batch(f, p, "r", 1, 100).count() == 9


def _reference_pick(rows, pol, tick, batch_size, pool_size):
    """The reference rule in plain Python: sort by (last_access,
    priority, queued_seq), cut to the pool, rate-gate, keep each host's
    first row, order hosts by that row's key and take the batch."""
    def key(r):
        return (pol[r[1]][0], r[4], r[5])

    pool = sorted(rows, key=key)[:pool_size]
    gated = [
        r for r in pool
        if pol[r[1]][0] == 0 or tick - pol[r[1]][0] >= pol[r[1]][1]
    ]
    first: dict[str, tuple] = {}
    for r in gated:
        first.setdefault(r[1], r)
    return [r[0] for r in sorted(first.values(), key=key)[:batch_size]]


def test_pool_cut_matches_reference_and_is_lazy(spark, tmp_path):
    """300 eligible rows over 9 hosts with batch 5 trigger the 125-row
    pool cut; the batch equals the reference rule's pick, and no
    checkpoint (LogicalRDD leaf) sits under it."""
    from par_scrape_spark.config import CANDIDATE_POOL_FACTOR, CANDIDATE_POOL_MIN

    batch, tick = 5, 10
    pool_size = max(batch * CANDIDATE_POOL_FACTOR, CANDIDATE_POOL_MIN)
    assert pool_size == 125
    # host -> (last_access, crawl_delay): the least-recent hosts fill
    # the pool and h8 is gated at tick 10, so the pool holds only four
    # eligible hosts while a fifth lies beyond the cut
    pol = {
        "h0": (0, 1), "h1": (2, 3), "h2": (5, 2), "h3": (0, 1), "h4": (7, 2),
        "h5": (2, 1), "h6": (9, 5), "h7": (5, 1), "h8": (1, 20),
    }
    rows = [
        (f"u{i}", f"h{i % 9}", "queued", 0, (i * 11) % 4,
         1000 + (i * 37) % 300)
        for i in range(300)
    ]
    assert len({r[1] for r in rows}) == 9
    expected = _reference_pick(rows, pol, tick, batch, pool_size)
    # the cut is load-bearing: without it the pick differs
    assert expected != _reference_pick(rows, pol, tick, batch, len(rows))

    # parquet inputs, so any LogicalRDD in the plan is the scheduler's own
    _frontier(spark, rows).write.parquet(str(tmp_path / "f"))
    _politeness(spark, [(h, la, d) for h, (la, d) in pol.items()]).write.parquet(
        str(tmp_path / "p")
    )
    f = spark.read.parquet(str(tmp_path / "f"))
    p = spark.read.parquet(str(tmp_path / "p"))
    df = select_batch(f, p, "r", tick=tick, batch_size=batch)
    got = [r["url"] for r in df.orderBy("parent_rank").collect()]
    assert got == expected
    assert "LogicalRDD" not in df._jdf.queryExecution().analyzed().toString()


def test_multi_partition_rank_exact_and_deterministic(spark):
    """About 3000 hosts x 2 rows over 8 partitions, mixed last_access and
    priority, batch 200: the 5000-row pool cut triggers, the batch equals
    the reference rule's pick, parent_rank is exactly 0..n-1 in pick
    order, and two evaluations of the same DataFrame agree."""
    from par_scrape_spark.config import CANDIDATE_POOL_FACTOR, CANDIDATE_POOL_MIN

    batch, tick, n_hosts = 200, 10, 3000
    pool_size = max(batch * CANDIDATE_POOL_FACTOR, CANDIDATE_POOL_MIN)
    pol = {f"h{i}": ((i * 7) % 10, 1 + i % 4) for i in range(n_hosts)}
    rows = [
        (f"u{j}", f"h{j % n_hosts}", "queued", 0, (j * 11) % 3,
         10_000 + (j * 7919) % (2 * n_hosts))
        for j in range(2 * n_hosts)
    ]
    assert len(rows) > pool_size
    expected = _reference_pick(rows, pol, tick, batch, pool_size)
    assert len(expected) == batch

    f = _frontier(spark, rows).repartition(8)
    p = _politeness(spark, [(h, la, d) for h, (la, d) in pol.items()])
    df = select_batch(f, p, "r", tick=tick, batch_size=batch)
    first = [(r["url"], r["parent_rank"]) for r in df.collect()]
    second = [(r["url"], r["parent_rank"]) for r in df.collect()]
    picked = sorted(first, key=lambda t: t[1])
    assert [u for u, _ in picked] == expected
    assert [r for _, r in picked] == list(range(batch))
    assert sorted(first) == sorted(second)
