"""Query layer probe of the traced ``deep_crawl`` run: one pass of the
declared ``__spark_entry__.queries()`` over tables generated from the
workload seed, each query timed and checked against its DuckDB
``oracle_sql()``.

Only queries whose oracle is computed SQL run here. The others carry
their expected rows as literals for one fixed dataset, so they cannot
check a generated one.
"""

from __future__ import annotations

import math
import os
import sys
import time
from datetime import datetime, timedelta

import numpy as np

from common import Tracer

# One query or more per layer: stats/scheduler (a1, w1, w3), the seen-set
# exact tier (j2), politeness/latest-by-key joins (j1, j4), text (f13, c1,
# d_exact_dedup, t_*, x_extract_fields, f14), ann (s_*) and embedding
# near-dup dedup.
QUERIES = (
    "a1_status_counts", "j1_politeness_join", "j2_seen_anti_join",
    "j4_latest_by_key", "w1_scheduler_pick", "w3_pool_prelimit",
    "f13_canonicalize", "c1_content_hash", "d_exact_dedup",
    "t_token_count", "t_token_count_bpe", "t_quality_score",
    "x_extract_fields", "f14_output_folder", "s_embed_topk",
    "s_cosine_topk", "s_ann_topk", "a4_lineage_rollup",
    "d_embed_near_dup",
)

# Table sizes: the sf0.1 shape of the repository's test data, except
# orders/customer, which only feed two join queries. The self-test
# divides every size by SMOKE_DIVISOR.
SIZES = {"events": 100_000, "users": 1_500, "docs": 5_000, "vecs": 2_000,
         "customers": 1_500, "orders": 15_000}
SMOKE_DIVISOR = 10

_WORDS = (
    "key agg row scan slow fast table value part hash a the merge batch "
    "spark window order data column join small line customer query filter "
    "group big vector index page crawl link image text token price"
).split()


def generate_tables(seed: int, out_dir: str, sizes: dict) -> None:
    """Write the query input tables for ``seed`` as parquet files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    N_EVENTS, N_USERS, N_DOCS, N_VECS, N_CUSTOMERS, N_ORDERS = (
        sizes[k] for k in ("events", "users", "docs", "vecs", "customers", "orders"))
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    t0 = datetime(2024, 1, 1)
    secs = np.sort(rng.integers(0, 30 * 86400 * 10**6, N_EVENTS))
    write("events", {
        "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
        "ts": pa.array([t0 + timedelta(microseconds=int(s)) for s in secs],
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS)),
        "event_type": pa.array(rng.choice(
            ["click", "view", "error", "signup", "purchase"], N_EVENTS)),
        "value": pa.array(np.round(rng.uniform(0, 20, N_EVENTS), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
    })

    texts = []
    for i in range(N_DOCS):
        if i > 10 and rng.random() < 0.05:  # exact duplicates for d_exact_dedup
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n = int(rng.integers(8, 80))
            texts.append(" ".join(rng.choice(_WORDS, n)))
    write("documents", {
        "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "de", "fr", "es", "ja"], N_DOCS)),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, N_DOCS)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })

    vecs = rng.normal(0.0, 0.1, (N_VECS, 64)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_VECS).astype(np.int32)),
    })

    write("customer", {
        "c_custkey": pa.array(np.arange(N_CUSTOMERS, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMERS)]),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, N_CUSTOMERS), 2)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            N_CUSTOMERS)),
    })
    # two thirds of customers place orders, so the seen-set anti-join
    # keeps the rest
    write("orders", {
        "o_orderkey": pa.array(np.arange(N_ORDERS, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS * 2 // 3, N_ORDERS)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], N_ORDERS)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, N_ORDERS), 2)),
        "o_orderdate": pa.array(
            [datetime(1992, 1, 1) + timedelta(days=int(d))
             for d in rng.integers(0, 2500, N_ORDERS)], pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], N_ORDERS)),
    })


def _canon(rows: list[tuple]) -> list[tuple]:
    """Sort key that ignores float noise below 1e-9 relative."""
    def key(v):
        if isinstance(v, float):
            return ("f", "nan") if math.isnan(v) else ("f", float(f"{v:.9g}"))
        if v is None:
            return ("n",)
        if isinstance(v, (list, dict)):
            return ("s", repr(v))
        return (type(v).__name__, v)

    return sorted(rows, key=lambda r: tuple(key(v) for v in r))


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, (float, int)):
        return math.isclose(a, float(b), rel_tol=1e-6, abs_tol=1e-9) or (
            math.isnan(a) and math.isnan(b))
    if isinstance(b, float) and isinstance(a, int):
        return math.isclose(float(a), b, rel_tol=1e-6, abs_tol=1e-9)
    return a == b


def rows_match(spark_rows: list[tuple], oracle_rows: list[tuple]) -> bool:
    if len(spark_rows) != len(oracle_rows):
        return False
    return all(
        len(x) == len(y) and all(_same(a, b) for a, b in zip(x, y))
        for x, y in zip(_canon(spark_rows), _canon(oracle_rows))
    )


def _arrow_rows(table, cols: list[str]) -> list[tuple]:
    data = [table.column(c).to_pylist() for c in cols]
    return list(zip(*data)) if data else []


def oracle_rows(data_dir: str) -> dict[str, tuple[list[str], list[tuple]]]:
    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in ("events", "documents", "embeddings", "customer", "orders"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')"
        )
    out = {}
    for name in QUERIES:
        cur = con.execute(oracles[name])
        cols = [d[0] for d in cur.description]
        out[name] = (cols, cur.fetchall())
    con.close()
    return out


def query_layers(spark, seed: int, tracer: Tracer, work: str,
                 smoke: bool = False) -> dict:
    """Build the ANN index once (timed on its own), run every query once,
    then check each result against its oracle. Returns the per-query
    times as per-layer metrics with the operation counts."""
    import __spark_entry__ as entry

    data_dir = os.path.join(work, f"sfgen_{seed}")
    div = SMOKE_DIVISOR if smoke else 1
    generate_tables(seed, data_dir, {k: v // div for k, v in SIZES.items()})
    qs = entry.queries()
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # touch every input once so the first query does not absorb the
    # cold scan the others never pay
    for t in ("events", "documents", "embeddings", "customer", "orders"):
        spark.read.parquet(os.path.join(data_dir, f"{t}.parquet")).write.format(
            "noop").mode("overwrite").save()

    times: dict[str, float] = {}
    results: dict = {}
    failed: set[str] = set()
    with tracer.span("queries", seed=seed):
        # one-off index build: ingest-time work, excluded from the query times
        with tracer.span("index_build"):
            t0 = time.perf_counter()
            entry.ensure_ann_index(spark, data_dir)
            index_s = time.perf_counter() - t0
        for name in QUERIES:
            with tracer.span("query", query=name):
                q0 = time.perf_counter()
                try:
                    results[name] = qs[name](spark, data_dir).toArrow()
                except Exception as e:  # counted as a failed operation
                    print(f"{name} raised: {e!r}", file=sys.stderr)
                    failed.add(name)
                    continue
                times[name] = time.perf_counter() - q0

    with tracer.span("check"):
        expected = oracle_rows(data_dir)
        for name, tbl in results.items():
            cols, want = expected[name]
            if sorted(tbl.column_names) != sorted(cols) or not rows_match(
                _arrow_rows(tbl, cols), want
            ):
                print(f"{name}: output differs from the DuckDB oracle", file=sys.stderr)
                failed.add(name)

    layers = {f"curation.{q}_s": v for q, v in times.items()}
    layers["ann.index_build_s"] = index_s
    return {"attempted": len(QUERIES), "failed": len(failed), "layers": layers}
