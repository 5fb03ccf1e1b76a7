"""Parquet + JSON-manifest snapshot tables.

The north rule asks for Iceberg tables; this container ships no Iceberg
runtime jar (SURVEY §7.0), so the engine talks to an Iceberg-*shaped*
interface with a Parquet+manifest backend:

- every commit writes new data directories, then an immutable
  ``manifest-<n>.json`` naming the directories live at that snapshot,
  then atomically replaces ``LATEST`` — i.e. snapshot isolation and
  time travel, the two Iceberg properties the engine relies on
  (reference analogue: SQLite WAL + BEGIN IMMEDIATE transactions,
  /root/reference/src/par_scrape/queue_db.py:92-102,310-311).
- ``commit_upsert`` is merge-on-read: the delta directory carries full
  replacement rows; readers resolve "latest row wins per key" with a
  broadcast anti-join (deltas are superstep-sized, i.e. tiny next to the
  base), and ``compact()`` periodically folds deltas into a rewritten
  base — exactly Iceberg's MoR + rewrite_data_files shape, so swapping
  the real catalog in is an adapter change, not a redesign.

Multi-table atomicity (one crawl superstep commits frontier + payload +
politeness + lineage) lives one level up in plans/crawl.py: a run
manifest pins one snapshot id per table and is written last.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import uuid

try:  # POSIX writer mutex; absent on non-POSIX (see _commit_lock)
    import fcntl
except ImportError:  # pragma: no cover
    fcntl = None

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _atomic_write_json(path: str, obj: dict) -> None:
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


# commit parent sentinel: "chain from whatever LATEST is" (the default,
# correct for standalone table use). Engines that pin a snapshot set in a
# run manifest MUST pass their pinned snapshot instead — chaining from
# LATEST after a crash-redo would resurrect orphan commits from the
# interrupted attempt (duplicated payload rows, doubled lineage counters).
USE_LATEST = -1


class SnapshotTable:
    """One snapshot-versioned table rooted at ``<root>/<name>``."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        name: str,
        schema: T.StructType,
        key_cols: list[str] | None = None,
        partition_cols: list[str] | None = None,
    ) -> None:
        self.spark = spark
        self.name = name
        self.dir = os.path.join(root, name)
        self.schema = schema
        self.key_cols = key_cols or []
        self.partition_cols = partition_cols or []
        self._manifest_dir = os.path.join(self.dir, "_manifests")
        os.makedirs(self._manifest_dir, exist_ok=True)
        os.makedirs(os.path.join(self.dir, "data"), exist_ok=True)

    # ------------------------------------------------------------ manifests

    @contextlib.contextmanager
    def _commit_lock(self):
        """Writer mutex around read-LATEST → write-manifest → swap-LATEST.

        Without it two concurrent writers (two crawl runs committing to
        one shared warehouse) can both read LATEST=n and both write
        manifest-(n+1) — the loser's data dir is written but falls out
        of the lineage (lost update). ``flock`` serializes writers
        across processes and threads on a local/NFS filesystem. On an
        object store there is no flock; there the compare-and-swap
        belongs to a catalog (Hive/Iceberg metastore, a DynamoDB-style
        lock), which is exactly the seam this method is — swap the
        body, keep the contract: at most one commit resolves against a
        given LATEST. Non-POSIX fallback is lock-free single-writer
        (documented, not silent: a warning names the risk once)."""
        if fcntl is None:  # pragma: no cover
            import warnings

            warnings.warn(
                "fcntl unavailable: snapshot commits are not "
                "concurrent-writer safe on this platform",
                RuntimeWarning,
                stacklevel=3,
            )
            yield
            return
        path = os.path.join(self._manifest_dir, "COMMIT.lock")
        with open(path, "w") as f:
            fcntl.flock(f, fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(f, fcntl.LOCK_UN)

    def _manifest_path(self, snapshot: int) -> str:
        return os.path.join(self._manifest_dir, f"manifest-{snapshot:08d}.json")

    def latest_snapshot(self) -> int | None:
        latest = os.path.join(self._manifest_dir, "LATEST")
        if not os.path.exists(latest):
            return None
        with open(latest) as f:
            return int(f.read().strip())

    def _load_manifest(self, snapshot: int | None) -> dict | None:
        if snapshot is None:
            snapshot = self.latest_snapshot()
        if not snapshot:  # None = no LATEST yet; 0 = pinned-empty
            return None
        with open(self._manifest_path(snapshot)) as f:
            return json.load(f)

    def _commit(self, manifest: dict) -> int:
        prev = self.latest_snapshot()
        snap = (prev or 0) + 1
        manifest["snapshot"] = snap
        manifest["parent"] = prev
        _atomic_write_json(self._manifest_path(snap), manifest)
        tmp = os.path.join(self._manifest_dir, f"LATEST.tmp-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            f.write(str(snap))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(self._manifest_dir, "LATEST"))
        return snap

    # ------------------------------------------------------------ writes

    def _write_dir(self, df: DataFrame, partitioned: bool) -> str:
        rel = os.path.join("data", f"commit-{uuid.uuid4().hex[:12]}")
        out = os.path.join(self.dir, rel)
        # every dir is written in the table schema, so reads hand the
        # reader the schema instead of inferring it from the footers (an
        # empty commit leaves no part file to infer from, yet reads as 0
        # rows; a missing dir fails the read)
        df = self._conform(df)
        if partitioned and self.partition_cols:
            # co-locate each partition value into one task before the
            # partitionBy write — otherwise every task emits a file per
            # value it holds (tasks x values tiny files, whose listing
            # then dominates every later scan)
            writer = (
                df.repartition(*[F.col(c) for c in self.partition_cols])
                .write.mode("overwrite")
                .partitionBy(*self.partition_cols)
            )
        else:
            writer = df.write.mode("overwrite")
        writer.parquet(out)
        return rel

    def _parent_manifest(self, parent: int | None) -> dict:
        """Resolve the manifest a commit chains from.

        ``USE_LATEST`` → current LATEST; ``None``/``0`` → the empty table
        (a run pinned "nothing committed yet"); ``n`` → manifest-n.
        """
        if parent == USE_LATEST:
            m = self._load_manifest(None)
        elif not parent:
            m = None
        else:
            m = self._load_manifest(parent)
        return m or {"base_dirs": [], "delta_dirs": []}

    def commit_overwrite(self, df: DataFrame) -> int:
        rel = self._write_dir(df, partitioned=True)
        with self._commit_lock():
            return self._commit({"base_dirs": [rel], "delta_dirs": []})

    def commit_append(self, df: DataFrame, parent: int | None = USE_LATEST) -> int:
        # the slow part (parquet write) happens OUTSIDE the lock; only
        # parent resolution + the manifest/LATEST swap are serialized,
        # so a USE_LATEST append always chains from the true latest
        # even with a concurrent writer
        rel = self._write_dir(df, partitioned=True)
        with self._commit_lock():
            prev = self._parent_manifest(parent)
            return self._commit(
                {
                    "base_dirs": prev["base_dirs"] + [rel],
                    "delta_dirs": prev["delta_dirs"],
                }
            )

    def commit_upsert(self, df: DataFrame, parent: int | None = USE_LATEST) -> int:
        """Merge-on-read upsert: ``df`` holds full replacement rows, unique
        per key. Readers resolve latest-wins; ``compact()`` folds deltas."""
        if not self.key_cols:
            raise ValueError(f"table {self.name} has no key_cols; use append/overwrite")
        rel = self._write_dir(df, partitioned=False)
        with self._commit_lock():
            prev = self._parent_manifest(parent)
            return self._commit(
                {
                    "base_dirs": prev["base_dirs"],
                    "delta_dirs": prev["delta_dirs"] + [rel],
                }
            )

    # ------------------------------------------------------------ reads

    def _empty(self) -> DataFrame:
        return self.spark.createDataFrame([], self.schema)

    def _conform(self, df: DataFrame) -> DataFrame:
        """Project + cast ``df`` to exactly the table's columns and types."""
        return df.select(
            *[F.col(f.name).cast(f.dataType) for f in self.schema.fields]
        )

    def _read_dirs(self, rels: list[str]) -> DataFrame | None:
        if not rels:
            return None
        dfs = [
            self.spark.read.schema(self.schema)
            .option("basePath", path)
            .parquet(path)
            for path in (os.path.join(self.dir, rel) for rel in rels)
        ]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return self._conform(out)

    def read(self, snapshot: int | None = None) -> DataFrame:
        """Current (or time-travel) state of the table.

        For upsert tables the delta directories are resolved latest-wins:
        per-key newest delta row via a window over the (small) delta set,
        then base rows whose key appears in any delta are anti-joined out
        (broadcast — delta keys are superstep-sized) and the deltas
        unioned in. With no deltas this is a plain partitioned scan.
        """
        manifest = self._load_manifest(snapshot)
        if manifest is None:
            return self._empty()
        base = self._read_dirs(manifest["base_dirs"])
        n_deltas = len(manifest["delta_dirs"])
        if n_deltas == 0:
            return base if base is not None else self._empty()

        from pyspark.sql import Window

        deltas = [
            self.spark.read.schema(self.schema)
            .parquet(os.path.join(self.dir, rel))
            .withColumn("_delta_seq", F.lit(i))
            for i, rel in enumerate(manifest["delta_dirs"])
        ]
        delta = deltas[0]
        for d in deltas[1:]:
            delta = delta.unionByName(d)
        w = Window.partitionBy(*self.key_cols).orderBy(F.col("_delta_seq").desc())
        cols = [f.name for f in self.schema.fields]
        resolved = (
            delta.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(*cols)
        )
        if base is None:
            return self._conform(resolved)
        delta_keys = resolved.select(*self.key_cols).distinct()
        survivors = base.join(F.broadcast(delta_keys), self.key_cols, "left_anti")
        return self._conform(survivors.unionByName(resolved))

    def delta_count(self) -> int:
        manifest = self._load_manifest(None)
        return len(manifest["delta_dirs"]) if manifest else 0

    # ------------------------------------------------------------ maintenance

    def compact(self, snapshot: int | None = None) -> int:
        """Fold deltas into a rewritten, partitioned base (Iceberg
        rewrite_data_files analogue). Bounds read-time resolution cost.
        Pass the snapshot to fold so an engine never compacts orphan
        commits left by an interrupted sibling attempt."""
        df = self.read(snapshot)
        return self.commit_overwrite(df)

    def vacuum(self, keep_snapshots: int = 4) -> None:
        """Drop data dirs unreferenced by the newest ``keep_snapshots``."""
        latest = self.latest_snapshot()
        if latest is None:
            return
        live: set[str] = set()
        for snap in range(max(1, latest - keep_snapshots + 1), latest + 1):
            path = self._manifest_path(snap)
            if os.path.exists(path):
                with open(path) as f:
                    m = json.load(f)
                live.update(m["base_dirs"])
                live.update(m["delta_dirs"])
        data_root = os.path.join(self.dir, "data")
        for entry in os.listdir(data_root):
            rel = os.path.join("data", entry)
            if rel not in live:
                shutil.rmtree(os.path.join(data_root, entry), ignore_errors=True)
