"""Approximate-nearest-neighbor search over embedding columns.

Driver-mandated first-class component beyond the reference's surface
(the reference, paulrobello/par_scrape, has no vector search at all):
similarity search a training-data pipeline needs at 100 TB. The
brute-force cosine top-k in ``__spark_entry__.q_s_cosine_topk`` is the
correctness baseline; this module is the scale path.

Design — random-hyperplane LSH (SimHash-for-vectors), multi-probe:

1. **Index side**: ``n_planes`` fixed hyperplanes (deterministic from a
   splitmix64 stream, so index and query agree across sessions with no
   stored state). Each vector's bucket is the ``n_planes``-bit sign
   pattern of its plane dot products — a pure JVM column expression
   (``zip_with`` + ``aggregate``), no Python in the hot path.
   ``build_ann_index`` makes the bucket *physical layout*: the
   embeddings table is rewritten once, partitioned by ``bucket``
   (one shuffle by bucket, then one file per bucket directory — the
   repartition prevents the tasks × buckets tiny-file blowup). At
   100 TB each bucket directory holds ~corpus/2^n_planes vectors and
   more planes keep directories bounded; probes then prune *files*,
   not rows — the scan never touches the other 96.5% of the corpus.
2. **Query side**: the query vector's bucket is computed on the driver
   (numpy); multi-probe expands it to every bucket within Hamming
   distance ``max_hamming`` (cosine-near vectors differ in few sign
   bits — the standard multi-probe LSH argument). With 8 planes,
   Hamming ≤ 1 probes 9/256 buckets ≈ 3.5% of the corpus; the DEFAULT
   operating point is Hamming ≤ 2 — 37/256 ≈ 14.5% scanned — tuned so
   recall@10 ≥ 0.8 on clustered corpora (sibling cosine ≈ 0.95 means
   per-plane split probability θ/π ≈ 0.1, so P[≤2 of 8 bits differ] ≈
   0.96; ``tests/test_ann.py::test_default_operating_point_recall``
   checks the curve on a planted-cluster corpus). On isotropic random
   vectors recall is geometry-bounded regardless of probe width —
   neighbors near 90° decorrelate the sign bits.
3. **Search**: exact cosine top-k *inside* the probed buckets — an IN
   filter Catalyst pushes into the scan, then orderBy+limit, which
   Spark executes as TakeOrderedAndProject (per-partition top-k, no
   global sort).

Recall/cost dial: ``n_planes`` up → smaller buckets, lower recall per
probe; ``max_hamming`` up → more probes, higher recall. The exact
scan of the probed subset keeps results deterministic and rankable.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _hadoop_fs(spark, path: str):
    """(FileSystem, Path) for ``path`` via the Hadoop FileSystem API, so
    index-directory probing and the schema sidecar work identically on
    local disk, HDFS and object stores (ADVICE r3: driver-local
    ``os.path`` silently fell back to a full-index scan off-POSIX)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _fs_read_text(spark, path: str) -> str | None:
    fs, jpath = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return None
    stream = fs.open(jpath)
    try:
        data = spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    finally:
        stream.close()
    return bytes(data).decode("utf-8")


def _fs_write_text(spark, path: str, text: str) -> None:
    fs, jpath = _hadoop_fs(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _splitmix(x: np.ndarray) -> np.ndarray:
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(
        0xFFFFFFFFFFFFFFFF
    )
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & np.uint64(
        0xFFFFFFFFFFFFFFFF
    )
    return x ^ (x >> np.uint64(31))


def hyperplanes(dim: int, n_planes: int, seed: int = 7) -> np.ndarray:
    """(n_planes, dim) deterministic pseudo-uniform components in
    [-1, 1): splitmix64 of the (seed, plane, dim) index grid. Stateless
    — any session regenerates the identical planes."""
    salt = np.uint64((seed * 0x517CC1B727220A95) & 0xFFFFFFFFFFFFFFFF)
    idx = np.arange(n_planes * dim, dtype=np.uint64) + salt
    u = _splitmix(idx).astype(np.float64) / float(1 << 64)  # [0, 1)
    return (u * 2.0 - 1.0).reshape(n_planes, dim)


def _dot_expr(vec_col: str, plane: np.ndarray):
    lits = F.array(*[F.lit(float(v)) for v in plane])
    return F.aggregate(
        F.zip_with(F.col(vec_col), lits, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def lsh_bucket_col(vec_col: str, planes: np.ndarray):
    """Integer bucket id column: bit i = sign(plane_i · vec). JVM-side
    whole-stage-codegen expression; at scale this is the write-time
    bucketing key for the embeddings table."""
    bucket = F.lit(0)
    for i, plane in enumerate(planes):
        bucket = bucket + F.when(_dot_expr(vec_col, plane) > 0, F.lit(1 << i)).otherwise(
            F.lit(0)
        )
    return bucket.cast("int")


def bucket_norm_udf(plane_sets: tuple[np.ndarray, ...], want_norm: bool = True):
    """Arrow-batched twin of ``lsh_bucket_col`` (+ the norm fold): one
    pandas-UDF pass computes every plane set's sign bucket and the
    vector norm for a whole batch in numpy.

    Bit-exactness: each plane dot accumulates ``acc += V[:, j] * p[j]``
    for j = 0..dim-1 — elementwise numpy ops (no BLAS reduction, no
    FMA), so every element sees the same multiply-then-add IEEE double
    sequence as the ``aggregate(zip_with(...))`` fold and the oracle's
    sequential ``list_dot_product``; the sign test and the norm
    (``acc += V[:, j] * V[:, j]`` then correctly-rounded sqrt) are
    likewise identical. The win is purely physical: the interpreted
    fold costs ~8 plane folds x dim lambda evaluations per ROW, while
    this kernel runs ~n_planes x dim vectorized passes per BATCH
    (measured: the 3-table bucket+norm pass over 20k vectors drops
    from 2.6s to under 0.5s).

    Returns a pandas UDF producing a struct of
    (_bucket0.._bucket{L-1}[, _n]).
    """
    from pyspark.sql import types as T

    fields = [
        T.StructField(f"_bucket{t}", T.IntegerType())
        for t in range(len(plane_sets))
    ]
    if want_norm:
        fields.append(T.StructField("_n", T.DoubleType()))
    schema = T.StructType(fields)

    def _fn(vs: pd.Series) -> pd.DataFrame:
        n = len(vs)
        if n == 0:
            return pd.DataFrame(
                {f.name: pd.Series([], dtype="float64") for f in fields}
            )
        V = np.stack(vs.to_numpy()).astype(np.float64)
        cols = {}
        for t, planes in enumerate(plane_sets):
            bucket = np.zeros(n, dtype=np.int64)
            for i, plane in enumerate(planes):
                acc = np.zeros(n)
                for j in range(V.shape[1]):
                    acc += V[:, j] * plane[j]
                bucket |= (acc > 0).astype(np.int64) << i
            cols[f"_bucket{t}"] = bucket.astype(np.int32)
        if want_norm:
            acc = np.zeros(n)
            for j in range(V.shape[1]):
                acc += V[:, j] * V[:, j]
            cols["_n"] = np.sqrt(acc)
        return pd.DataFrame(cols)

    return F.pandas_udf(_fn, schema)


def query_bucket(qvec: list[float] | np.ndarray, planes: np.ndarray) -> int:
    q = np.asarray(qvec, dtype=np.float64)
    return int(sum(1 << i for i, p in enumerate(planes) if float(p @ q) > 0))


def probe_buckets(bucket: int, n_planes: int, max_hamming: int = 1) -> list[int]:
    """All bucket ids within Hamming distance ``max_hamming`` of
    ``bucket`` (multi-probe LSH)."""
    out = {bucket}
    frontier = {bucket}
    for _ in range(max_hamming):
        frontier = {b ^ (1 << i) for b in frontier for i in range(n_planes)}
        out |= frontier
    return sorted(out)


def ann_cosine_topk(
    embeddings: DataFrame,
    qvec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    max_hamming: int = 2,
    seed: int = 7,
) -> DataFrame:
    """LSH-bucketed approximate cosine top-k: exact ranking within the
    multi-probe bucket subset. Returns (id, bucket, cosine) ordered by
    (cosine desc, id) — cosine rounded to 6 places so the ordering and
    the DuckDB oracle agree to the last ulp."""
    dim = len(qvec)
    planes = hyperplanes(dim, n_planes, seed)
    probes = probe_buckets(query_bucket(qvec, planes), n_planes, max_hamming)

    qlits = F.array(*[F.lit(float(v)) for v in qvec])
    qnorm = float(np.linalg.norm(np.asarray(qvec, dtype=np.float64)))
    dot = F.aggregate(
        F.zip_with(F.col(vec_col), qlits, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    vnorm = F.sqrt(
        F.aggregate(
            F.col(vec_col), F.lit(0.0), lambda acc, x: acc + x.cast("double") * x
        )
    )
    cos = F.round(dot / (vnorm * F.lit(qnorm)), 6)

    bucketed = embeddings.withColumn("bucket", lsh_bucket_col(vec_col, planes))
    return (
        bucketed.filter(F.col("bucket").isin(probes))
        .select(F.col(id_col), F.col("bucket"), cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def build_ann_index(
    embeddings: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 7,
) -> str:
    """Write-time LSH index: rewrite the embeddings table partitioned by
    the LSH ``bucket`` so query-time probes prune files instead of
    scanning rows. One job: compute the bucket (JVM codegen expression),
    shuffle once on it (so each bucket directory gets exactly one file
    — without the repartition every task writes a sliver into every
    bucket and file listing dominates later scans), write
    ``partitionBy("bucket")``.

    This is ingest-time work, amortized over every subsequent query —
    the 100 TB equivalent of building any secondary index. The planes
    are deterministic from (n_planes, dim, seed), so any session can
    re-derive the query-side bucketing with no stored state beyond the
    directory layout itself.
    """
    import json

    head = embeddings.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
    if not head:
        raise ValueError(
            "build_ann_index: embeddings table is empty — nothing to index "
            f"(id_col={id_col!r}, vec_col={vec_col!r})"
        )
    dim = int(head[0]["d"])
    planes = hyperplanes(dim, n_planes, seed)
    # spread an under-partitioned source before the bucket UDF: a small
    # parquet table arrives as 1-2 scan partitions and would serialize
    # the Arrow kernel on as many cores; at scale the file count already
    # exceeds the parallelism and this is a no-op (same discipline as
    # functions/text.spread_small_input).
    p = embeddings.sparkSession.sparkContext.defaultParallelism
    if embeddings.rdd.getNumPartitions() < p:
        embeddings = embeddings.repartition(p)
    indexed = embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        bucket_norm_udf((planes,), want_norm=False)(F.col(vec_col))[
            "_bucket0"
        ].alias("bucket"),
    )
    # repartition to exactly 2^n_planes partitions keyed by bucket: still
    # one file per bucket directory, but the write runs bucket-parallel.
    # The keyless form repartition("bucket") inherits
    # spark.sql.shuffle.partitions and AQE then coalesces the few-MB
    # shuffle to 1-4 partitions, serializing the 2^n_planes parquet file
    # creations onto a handful of tasks (measured: the write stage was
    # 4 tasks x ~64 sequential file commits; guide §2.5/§6 small-files).
    # Pinning the count to the bucket cardinality is scale-correct: at
    # 10^10 vectors each of the 256 partitions is corpus/256 — exactly
    # the per-directory file sizing the index wants.
    indexed.repartition(1 << n_planes, "bucket").write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(path)
    # persist the data schema (metastore-style): query-time reads skip
    # the parquet footer inference job entirely. Hadoop FS write so the
    # sidecar lands next to the data on any filesystem.
    _fs_write_text(
        embeddings.sparkSession,
        path.rstrip("/") + "/_SCHEMA.json",
        json.dumps(indexed.drop("bucket").schema.jsonValue()),
    )
    return path


def ann_cosine_topk_indexed(
    spark,
    index_path: str,
    qvec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    max_hamming: int = 2,
    seed: int = 7,
) -> DataFrame:
    """ANN top-k over a ``build_ann_index`` table: the multi-probe
    ``bucket IN (...)`` filter lands on the *partition column*, so
    Catalyst prunes the non-probed bucket directories at planning time
    (PartitionFilters in the scan node — see PLANS.md) and the exact
    cosine runs only over the ~``(1+n_planes)/2^n_planes`` of the corpus
    the probes name. Identical results to ``ann_cosine_topk`` (same
    planes, same probes, same rounded cosine), minus the full scan and
    the per-row query-time bucket computation.

    Listing note: the probe set is known *before* planning, so only the
    probed ``bucket=<b>`` directories are handed to the reader (with
    ``basePath`` so the partition column is still inferred) — the
    path-glob discovery job over all 2^n_planes directories never runs.
    This is what a metastore-backed catalog table gives for free (list
    only matching partitions); the directory-existence probe below is
    the local-FS form of that metadata lookup — on an object store the
    same role is played by the catalog/manifest listing, never a
    per-query full-prefix scan."""
    dim = len(qvec)
    planes = hyperplanes(dim, n_planes, seed)
    probes = probe_buckets(query_bucket(qvec, planes), n_planes, max_hamming)
    fs, _ = _hadoop_fs(spark, index_path)
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    base = index_path.rstrip("/")
    probe_dirs = [
        d
        for d in (f"{base}/bucket={b}" for b in probes)
        if fs.isDirectory(jvm_path(d))
    ]

    qlits = F.array(*[F.lit(float(v)) for v in qvec])
    qnorm = float(np.linalg.norm(np.asarray(qvec, dtype=np.float64)))
    dot = F.aggregate(
        F.zip_with(F.col(vec_col), qlits, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    vnorm = F.sqrt(
        F.aggregate(
            F.col(vec_col), F.lit(0.0), lambda acc, x: acc + x.cast("double") * x
        )
    )
    cos = F.round(dot / (vnorm * F.lit(qnorm)), 6)

    reader = spark.read
    schema_text = _fs_read_text(spark, f"{base}/_SCHEMA.json")
    if schema_text is not None:  # skip footer-inference (one job)
        import json

        from pyspark.sql import types as T

        reader = reader.schema(T.StructType.fromJson(json.loads(schema_text)))
    if not probe_dirs:  # every probed bucket empty -> empty result
        indexed = reader.parquet(index_path)
    else:
        indexed = reader.option("basePath", index_path).parquet(*probe_dirs)
    return (
        indexed.filter(F.col("bucket").isin(probes))
        .select(
            F.col(id_col), F.col("bucket").cast("int"), cos.alias("cosine")
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def oracle_sql_ann_topk(
    qvec: list[float],
    k: int = 10,
    n_planes: int = 8,
    max_hamming: int = 2,
    seed: int = 7,
    dim: int = 64,
    table: str = "embeddings",
) -> str:
    """The equivalent DuckDB SQL — same planes as literal lists, same
    sign-bucket expression, same multi-probe set, same rounded cosine —
    so the driver's oracle certifies the bucketing math end-to-end
    rather than a precomputed literal table."""
    planes = hyperplanes(dim, n_planes, seed)
    probes = probe_buckets(query_bucket(qvec, planes), n_planes, max_hamming)
    planes_sql = [
        "[" + ", ".join(repr(float(v)) for v in p) + "]" for p in planes
    ]
    # e is embedding cast to DOUBLE[] — Spark accumulates the dot in
    # double, so the oracle must too or the 6-place rounding can differ
    bucket_sql = " + ".join(
        f"(CASE WHEN list_dot_product(e, {p}) > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes_sql)
    )
    qlist = "[" + ", ".join(repr(float(v)) for v in qvec) + "]"
    qnorm = repr(float(np.linalg.norm(np.asarray(qvec, dtype=np.float64))))
    probe_list = ", ".join(str(b) for b in probes)
    return (
        f"WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM {table}), "
        f"b AS (SELECT vec_id, CAST({bucket_sql} AS INTEGER) AS bucket, "
        f"ROUND(list_dot_product(e, {qlist}) / "
        f"(sqrt(list_dot_product(e, e)) * {qnorm}), 6) AS cosine FROM d) "
        f"SELECT vec_id, bucket, cosine FROM b WHERE bucket IN ({probe_list}) "
        f"ORDER BY cosine DESC, vec_id LIMIT {k}"
    )
