"""Spark StructTypes for the engine's four tables.

frontier   — the crawl queue / seen-set / result log, one row per (run, url).
             Mirrors the reference ``scrape`` table column-for-column
             (/root/reference/src/par_scrape/queue_db.py:216-235) plus the
             distributed-engine columns (url_hash, host_salt, priority,
             queued_seq) and a logical clock instead of wall time.
politeness — per-host rate-limit + robots state. Mirrors
             ``domain_rate_limit`` (queue_db.py:238-244) folded together
             with the in-memory robots cache (robots.py:12-14).
payload    — fetched image+caption rows (BASELINE.json::input_hint shape)
             plus lineage columns.
lineage    — per-(superstep, host_bucket) counters: fetch counts, robots
             denials, dedup hits (north_rule requirement).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("run", T.StringType(), False),  # = ticket_id
        T.StructField("url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), True),  # = domain
        T.StructField("host_salt", T.IntegerType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("error_type", T.StringType(), True),
        T.StructField("error_msg", T.StringType(), True),
        T.StructField("content_hash", T.StringType(), True),
        T.StructField("file_refs", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("scraped", T.LongType(), True),  # completion tick
        T.StructField("queued_at", T.LongType(), True),  # insertion tick
        T.StructField("last_processed_at", T.LongType(), True),
        T.StructField("attempts", T.IntegerType(), False),
        T.StructField("cost", T.DoubleType(), True),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("priority", T.LongType(), False),
        T.StructField("queued_seq", T.LongType(), False),  # determinism tiebreak
    ]
)


def align_frontier(df: DataFrame) -> DataFrame:
    """Project ``df`` onto FRONTIER_SCHEMA: present columns are cast to
    their field type, absent ones become typed NULLs."""
    present = set(df.columns)
    return df.select(
        *(
            (F.col(f.name) if f.name in present else F.lit(None))
            .cast(f.dataType)
            .alias(f.name)
            for f in FRONTIER_SCHEMA.fields
        )
    )


POLITENESS_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("last_access", T.LongType(), False),  # tick; 0 = never
        T.StructField("crawl_delay", T.IntegerType(), False),
        T.StructField("robots_rules", T.StringType(), True),  # raw robots.txt
        T.StructField("robots_fetched", T.BooleanType(), False),
        T.StructField("allow_all", T.BooleanType(), False),  # fail-open flag
    ]
)

PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
        # lineage columns
        T.StructField("run", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("fetched_at", T.LongType(), False),  # tick
    ]
)

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run", T.StringType(), False),
        T.StructField("superstep", T.LongType(), False),
        T.StructField("host_salt", T.IntegerType(), False),
        T.StructField("selected", T.LongType(), False),
        T.StructField("fetched_ok", T.LongType(), False),
        T.StructField("errors", T.LongType(), False),
        T.StructField("robots_denied", T.LongType(), False),
        T.StructField("dedup_hits", T.LongType(), False),
        T.StructField("new_urls", T.LongType(), False),
        T.StructField("images", T.LongType(), False),
        # A5 (queue_db.py:572, runner.py:613-616): summed extraction cost
        T.StructField("cost", T.DoubleType(), False),
        # A8: approx_count_distinct over the superstep's new url_hashes —
        # the frontier-cardinality monitor sized per host bucket
        T.StructField("seen_card_est", T.LongType(), False),
    ]
)
