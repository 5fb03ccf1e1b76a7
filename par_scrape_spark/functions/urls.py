"""URL column expressions (JVM fast path) and the policy UDF.

Two tiers, per SURVEY §2.2:

- JVM Column expressions for everything ``pyspark.sql.functions`` can say
  (extension filter F2, segment filter F3, host extraction, hashing) —
  these stay inside whole-stage codegen.
- vectorized pandas UDFs for the parts that must be exactly the policy
  function the simulator runs: ``canonicalize_udf`` (full
  canonicalization incl. default-port stripping, reference
  queue_db.py:319 — so seen-set identity is bit-deterministic).

``url_hash`` is always computed JVM-side with ``F.xxhash64`` *after*
canonicalization, so the hash definition lives in one place (Spark's
XXH64(seed=42)) and never needs a Python twin.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from par_scrape_spark import policy

# ------------------------------------------------------------- JVM tier


def host_col(url: Column) -> Column:
    """C3: URL host via the built-in parser."""
    return F.parse_url(url, F.lit("HOST"))


def exclude_url_col(url: Column) -> Column:
    """F2+F3: extension filter + segment-anchored boilerplate filter."""
    path = F.lower(F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit("")))
    return path.rlike(policy.EXCLUDED_EXTENSION_RLIKE) | path.rlike(
        policy.EXCLUDED_SEGMENT_RLIKE
    )


def url_hash_col(url: Column) -> Column:
    """Seen-set hash key: Spark-native XXH64 over the canonical URL."""
    return F.xxhash64(url)


def host_salt_col(
    host: Column,
    num_buckets: int,
    url_hash: Column | None = None,
    hot_hosts: tuple[str, ...] = (),
    spread: int = 1,
) -> Column:
    """D5: host-salted bucket id for frontier partitioning.

    Hot-host re-salting: hosts in ``hot_hosts`` (derived by the engine
    from frontier row counts at compaction time) spread their rows over
    ``spread`` buckets keyed by url_hash, so one mega-host cannot pin a
    whole partition/filter bucket. Exactness is unaffected: the salt only
    places rows; the seen-set's exact anti-join keys on (run, url_hash,
    url). A URL seen under an older salt simply misses the bloom prune
    and falls through to the exact tier.
    """
    base = F.xxhash64(host)
    if hot_hosts and spread > 1 and url_hash is not None:
        offset = F.when(
            host.isin(*hot_hosts), F.pmod(url_hash, F.lit(spread))
        ).otherwise(F.lit(0))
        base = base + offset.cast("long")
    return F.pmod(base, F.lit(num_buckets)).cast("int")


def neutralize_formula_col(c: Column) -> Column:
    """F12: CWE-1236 spreadsheet-formula neutralization
    (scrape_data.py:139-145): prefix cells starting with = + - @ TAB CR
    with a single quote."""
    first = F.substring(c, 1, 1)
    return F.when(first.isin("=", "+", "-", "@", "\t", "\r"), F.concat(F.lit("'"), c)).otherwise(c)


def output_folder_col(run: Column, url: Column) -> Column:
    """F14: collision-free artifact path (paths.py:9-62).

    ``run/host`` for bare hosts; path segments joined with ``__``; a
    sha256[:8] discriminator appended when the sanitized path exceeds 100
    chars or a query string is present.
    """
    host = F.split(F.coalesce(F.parse_url(url, F.lit("HOST")), F.lit("")), ":")[0]
    raw_path = F.regexp_replace(
        F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit("")), "^/+|/+$", ""
    )
    sanitized = F.regexp_replace(raw_path, "/+", "__")
    query = F.parse_url(url, F.lit("QUERY"))
    digest = F.substring(F.sha2(url, 256), 1, 8)
    needs_hash = (F.length(sanitized) > 100) | query.isNotNull()
    sanitized = F.when(
        needs_hash, F.concat(F.substring(sanitized, 1, 100), F.lit("-"), digest)
    ).otherwise(sanitized)
    return F.when(
        F.length(sanitized) > 0, F.concat_ws("/", run, host, sanitized)
    ).otherwise(F.concat_ws("/", run, host))


# ------------------------------------------------------------- UDF tier


@F.pandas_udf(T.StringType())
def canonicalize_udf(urls: pd.Series) -> pd.Series:
    """F13: canonical seen-set form of each URL (vectorized Arrow batch)."""
    return urls.map(lambda u: policy.canonicalize_url(u) if u is not None else None)


def with_url_identity(
    df,
    url_col: str = "url",
    num_buckets: int = 8,
    hot_hosts: tuple[str, ...] = (),
    spread: int = 1,
):
    """Attach the derived identity columns used everywhere downstream:
    canonical url, url_hash, host, host_salt."""
    df = df.withColumn(url_col, canonicalize_udf(F.col(url_col)))
    return (
        df.withColumn("url_hash", url_hash_col(F.col(url_col)))
        .withColumn("host", F.lower(host_col(F.col(url_col))))
        .withColumn(
            "host_salt",
            host_salt_col(
                F.col("host"), num_buckets, F.col("url_hash"), hot_hosts, spread
            ),
        )
    )
