"""Driver-contract check: every queries() entry runs; every oracle_sql()
entry matches the Spark result the same way the driver compares them
(row count + order-insensitive value comparison, columns sorted by name).
Runs at sf0.01 — the driver's correctness scale.
"""

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _canon_cell(v):
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<nan>"
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def _canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon_cell(r[i]) for i in order) for r in rows)


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.schema is not None


@pytest.mark.parametrize("name", sorted(entrymod.queries().keys()))
def test_query_runs_and_matches_oracle(spark, ddb, name):
    fn = entrymod.queries()[name]
    df = fn(spark, SF_DIR)
    spark_rows = df.collect()
    cols = df.columns
    assert len(spark_rows) >= 0

    oracle = entrymod.oracle_sql().get(name)
    if oracle is None:
        return  # rows-only contract
    res = ddb.execute(oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    assert sorted(cols) == sorted(duck_cols), f"{name}: column names differ"
    assert len(spark_rows) == len(duck_rows), f"{name}: row count differs"
    a = _canon_rows(cols, [tuple(r) for r in spark_rows])
    b = _canon_rows(duck_cols, duck_rows)
    mismatches = [(x, y) for x, y in zip(a, b) if x != y]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


def test_j4_agg_form_equals_window_form(spark):
    """q_j4's max-of-struct aggregation must reproduce the row_number
    window exactly, including same-ts ties broken by event_id (event_id
    is unique, which both forms require for determinism)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [
        # (user_id, event_id, ts, event_type) — same-ts ties per user
        (1, 10, 100, "a"), (1, 11, 100, "b"), (1, 9, 99, "c"),
        (2, 20, 5, "x"), (2, 21, 7, "y"),
        (3, 30, 1, "only"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_id", "ts", "event_type"])
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    want = sorted(
        (r["user_id"], r["event_id"], r["event_type"])
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    )
    top = F.max(F.struct("ts", "event_id", "event_type")).alias("_top")
    got = sorted(
        (r["user_id"], r["latest_event_id"], r["latest_type"])
        for r in df.groupBy("user_id")
        .agg(top)
        .select(
            "user_id",
            F.col("_top.event_id").alias("latest_event_id"),
            F.col("_top.event_type").alias("latest_type"),
        )
        .collect()
    )
    assert got == want


def test_w1_scheduler_pick_leaves_no_cache(spark):
    """q_w1_scheduler_pick caches nothing: the session's persisted-RDD
    count is unchanged after its result is collected."""
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    entrymod.q_w1_scheduler_pick(spark, SF_DIR).collect()
    assert jsc.getPersistentRDDs().size() == before
