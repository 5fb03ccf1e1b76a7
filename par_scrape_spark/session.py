"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half of physical memory in whole GiB, at least 1g: a heap larger
    than the box lets the local JVM grow until the kernel kills it."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1, phys // 2 // 2**30)}g"


def get_spark(
    app_name: str = "par_scrape_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the crawl engine.

    AQE is on (runtime skew-join splitting + post-shuffle coalescing),
    Arrow transfer is on (every UDF in this engine is pandas/Arrow
    vectorized), shuffle partitions default to the core count rather
    than Spark's 200 (right-sized for local mode; a real cluster would
    size this to ~2-3x total cores). The driver heap is half of physical
    memory unless ``SPARK_GRAFT_DRIVER_MEM`` names one.
    """
    cores = os.cpu_count() or 8
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        if master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = int(master[6:-1])
        else:
            shuffle_partitions = cores
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # the engine runs its commit fan-out as concurrent jobs; on a
        # low-core executor a broadcast build can legitimately wait out
        # the 300s default while sibling jobs hold the cores
        .config("spark.sql.broadcastTimeout", "3600")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
