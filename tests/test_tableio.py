"""Snapshot table: commit/read/upsert/time-travel/compaction."""

import os
import shutil

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql import types as T

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("host_salt", T.IntegerType()),
    ]
)


def _table(spark, tmp_path, **kw):
    from par_scrape_spark.tableio import SnapshotTable

    return SnapshotTable(
        spark, str(tmp_path), "t", SCHEMA, key_cols=["k"],
        partition_cols=["host_salt"], **kw
    )


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_empty_read(spark, tmp_path):
    t = _table(spark, tmp_path)
    assert t.read().count() == 0
    assert t.read().schema == SCHEMA


def test_overwrite_and_append(spark, tmp_path):
    t = _table(spark, tmp_path)
    s1 = t.commit_overwrite(_df(spark, [(1, "a", 0), (2, "b", 1)]))
    assert t.read().count() == 2
    t.commit_append(_df(spark, [(3, "c", 0)]))
    assert t.read().count() == 3
    # time travel to snapshot 1
    assert t.read(snapshot=s1).count() == 2


def test_upsert_latest_wins(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.commit_overwrite(_df(spark, [(1, "a", 0), (2, "b", 1), (3, "c", 0)]))
    t.commit_upsert(_df(spark, [(2, "B", 1), (4, "d", 1)]))
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {1: "a", 2: "B", 3: "c", 4: "d"}
    t.commit_upsert(_df(spark, [(2, "BB", 1)]))
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[2] == "BB"


def test_compact_preserves_state(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.commit_overwrite(_df(spark, [(1, "a", 0), (2, "b", 1)]))
    t.commit_upsert(_df(spark, [(2, "B", 1)]))
    t.commit_upsert(_df(spark, [(1, "A", 0), (5, "e", 1)]))
    assert t.delta_count() == 2
    before = {(r["k"], r["v"]) for r in t.read().collect()}
    t.compact()
    assert t.delta_count() == 0
    after = {(r["k"], r["v"]) for r in t.read().collect()}
    assert before == after
    # compacted base keeps the partition column
    assert "host_salt" in t.read().columns
    assert {r["host_salt"] for r in t.read().collect()} == {0, 1}


def test_partition_pruning_pushdown(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.commit_overwrite(_df(spark, [(i, "x", i % 4) for i in range(100)]))
    plan = t.read().filter(F.col("host_salt") == 2)._jdf.queryExecution().executedPlan().toString()
    # partition filter must reach the scan (no full-table read)
    assert "PartitionFilters" in plan


def test_concurrent_appends_lose_nothing(spark, tmp_path):
    """Two writers racing USE_LATEST commits must both land in the
    lineage (the commit mutex serializes parent resolution + the
    LATEST swap): 8 threaded 1-row appends -> 8 rows, 8 snapshots,
    an unbroken parent chain."""
    import threading

    from pyspark.sql import types as T

    from par_scrape_spark.tableio import SnapshotTable

    schema = T.StructType([T.StructField("v", T.LongType())])
    tbl = SnapshotTable(spark, str(tmp_path), "race", schema)
    errs = []

    def _append(i):
        try:
            tbl.commit_append(spark.createDataFrame([(i,)], schema))
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=_append, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert tbl.latest_snapshot() == 8
    assert sorted(r["v"] for r in tbl.read().collect()) == list(range(8))
    # unbroken parent chain 8 -> 7 -> ... -> 1 -> None
    snap, seen = 8, []
    while snap:
        m = tbl._load_manifest(snap)
        seen.append(snap)
        snap = m["parent"]
    assert seen == [8, 7, 6, 5, 4, 3, 2, 1]


def test_reads_fail_loudly(spark, tmp_path):
    """An empty commit reads as 0 rows; a live dir that has gone missing
    fails the read instead of silently dropping its rows."""
    t = _table(spark, tmp_path)
    t.commit_append(_df(spark, []))
    assert t.read().count() == 0
    t.commit_overwrite(_df(spark, [(i, "x", i % 2) for i in range(10)]))
    t.commit_append(_df(spark, []))
    t.commit_upsert(_df(spark, [(1, "y", 1), (20, "z", 0)]))
    assert t.read().count() == 11
    base = t._load_manifest(None)["base_dirs"][0]
    shutil.rmtree(os.path.join(t.dir, base))
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        t.read().count()
