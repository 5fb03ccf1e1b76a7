"""Shared benchmark plumbing: run environment, Spark session set-up,
spans, process-tree memory/CPU probes and the Spark REST reader.

Everything here observes the program from outside: it calls the public
``session.get_spark`` and reads ``/proc`` and the Spark REST API. Nothing
in the engine is changed or patched.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def nproc() -> int:
    """CPUs this process may run on (honours ``taskset``)."""
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """An eighth of physical memory, between 1 and 2 GiB: the engine's
    own default (48g) is sized for a much larger box, and a heap much
    larger than the working set makes peak RSS follow GC timing."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return f"{max(1, min(2, total_kb // (8 * 1024 * 1024)))}g"


def prepare_environment(work: str) -> None:
    """Point every temp/shuffle/warehouse path inside ``work`` and put the
    package on the Python workers' path. Must run before pyspark starts
    its JVM and before anything calls ``tempfile.gettempdir()``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_memory()
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(dict.fromkeys(paths))
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


# ------------------------------------------------------------------ spans


class Tracer:
    """In-memory span recorder; a no-op unless enabled. Spans are
    written out once, at the end of the run."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "start": start, "end": end, **attrs}
        self.spans.append(rec)
        return rec["id"]

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def add_engine_phases(tracer: Tracer, parent: dict, timings: dict) -> None:
    """Turn one ``CrawlEngine.timings`` entry into child spans of the
    superstep span. The engine records durations only, so starts are
    laid out in phase order; the ``c_*`` commits run concurrently inside
    ``side_commits`` and all start with it."""
    if not tracer.enabled:
        return
    t = parent["start"]
    for phase in ("select", "fetch_probe"):
        if phase in timings:
            tracer.add(phase, t, t + timings[phase], parent["id"])
            t += timings[phase]
    if "side_commits" in timings:
        sc = tracer.add("side_commits", t, t + timings["side_commits"], parent["id"])
        for k, v in timings.items():
            if k.startswith("c_"):
                tracer.add(k, t, t + v, sc)
        t += timings["side_commits"]
    if "chain" in timings:
        tracer.add("chain", t, t + timings["chain"], parent["id"])


# ------------------------------------------------------------------ /proc


def descendants(root: int) -> list[int]:
    """``root`` and every process below it."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        ppid = int(raw[raw.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def pin_tree(cpu: int) -> None:
    """Pin this process and every process below it (the driver JVM, the
    Python daemon and its workers), all their threads, to one CPU with
    ``taskset``. Threads and processes started later inherit the pin."""
    me = os.getpid()
    for pid in descendants(me):
        proc = subprocess.run(["taskset", "-a", "-p", "-c", str(cpu), str(pid)],
                              capture_output=True, text=True)
        if proc.returncode != 0 and pid == me:
            raise RuntimeError(f"taskset failed: {proc.stderr.strip()}")


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def python_worker_cpu_s() -> float:
    """CPU seconds used so far by the Python worker processes (every
    python process below the JVM), including workers that already
    exited (counted in their parent's cutime/cstime)."""
    tick = os.sysconf("SC_CLK_TCK")
    me = os.getpid()
    total = 0
    for pid in descendants(me):
        if pid == me:
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        if not comm.startswith("python"):
            continue
        fields = raw[raw.rindex(")") + 2 :].split()
        # utime, stime, cutime, cstime are fields 14-17 (1-based)
        total += sum(int(x) for x in fields[11:15])
    return total / tick


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    driver JVM, the Python driver and the Python workers), sampled on a
    background thread while active."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        kb = sum(_rss_kb(p) for p in descendants(os.getpid()))
        self.peak_kb = max(self.peak_kb, kb)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def dir_usage(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            try:
                size += os.lstat(os.path.join(dirpath, n)).st_size
                files += 1
            except OSError:
                pass
    return files, size


# ------------------------------------------------------------------ spark


def start_spark(tracing: bool, work: str, cores: int):
    """Create the session the way a user would (``get_spark``), run the
    first job and warm the Python workers. Returns (spark, phases) with
    the three phase times in seconds."""
    from par_scrape_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"
        ),
        "spark.ui.showConsoleProgress": "false",
        # the REST API rides on the UI server: on only in the traced run
        "spark.ui.enabled": "true" if tracing else "false",
        "spark.ui.port": "0",
    }
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        shuffle_partitions=cores, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    t2 = time.perf_counter()
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _warm(v):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        return v * 1.0

    spark.range(cores * 64).repartition(cores * 2).select(
        _warm(F.col("id").cast("double"))
    ).write.format("noop").mode("overwrite").save()
    t3 = time.perf_counter()
    return spark, {"jvm_start_s": t1 - t0, "first_job_s": t2 - t1, "worker_warmup_s": t3 - t2}


def _parse_ts(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc
    ).timestamp()


class SparkRest:
    """Reads job start times, stages (with tasks) and SQL executions from
    the application's REST API."""

    def __init__(self, spark) -> None:
        self.base = spark.sparkContext.uiWebUrl.rstrip("/")
        self.app = spark.sparkContext.applicationId

    def _get(self, path: str):
        url = f"{self.base}/api/v1/applications/{self.app}/{path}"
        with urllib.request.urlopen(url, timeout=60) as r:
            return json.loads(r.read())

    def job_starts(self) -> list[float]:
        starts = (_parse_ts(j.get("submissionTime")) for j in self._get("jobs"))
        return [t for t in starts if t is not None]

    def stages(self) -> list[dict]:
        out = []
        for s in self._get("stages?details=true&status=complete"):
            tasks = []
            for t in (s.get("tasks") or {}).values():
                start = _parse_ts(t.get("launchTime"))
                if start is None or t.get("duration") is None:
                    continue
                tasks.append((start, start + t["duration"] / 1000.0))
            out.append({
                "start": _parse_ts(s.get("submissionTime")),
                "shuffle_write": s.get("shuffleWriteBytes", 0),
                "tasks": tasks,
            })
        return out

    def python_io_bytes(self, t0: float, t1: float) -> float:
        """Bytes sent to plus returned from Python workers, summed over
        the SQL executions submitted in [t0, t1]."""
        total = 0.0
        for ex in self._get("sql?details=true&planDescription=false&length=100000"):
            st = _parse_ts(ex.get("submissionTime"))
            if st is None or not (t0 <= st <= t1):
                continue
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    if m.get("name") in ("data sent to Python workers",
                                         "data returned from Python workers"):
                        total += _parse_bytes(m.get("value", ""))
        return total


_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


def _parse_bytes(value: str) -> float:
    """Total of a Spark SQL size metric rendered as text, e.g.
    ``"total (min, med, max ...)\\n1.2 MiB (...)"``."""
    for line in value.splitlines():
        parts = line.split()
        if len(parts) >= 2 and parts[1] in _UNITS:
            try:
                return float(parts[0].replace(",", "")) * _UNITS[parts[1]]
            except ValueError:
                continue
    return 0.0


def busy_union(intervals: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Seconds of [t0, t1] covered by at least one interval."""
    clipped = sorted((max(a, t0), min(b, t1)) for a, b in intervals if b > t0 and a < t1)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def window_metrics(rest: SparkRest, windows: list[tuple[float, float]]) -> dict:
    """Spark job/stage/task metrics grouped by the given span windows.
    ``driver_wait_s`` is each window's wall time minus the time at least
    one task was running."""
    job_starts = rest.job_starts()
    stages = rest.stages()
    tasks = [iv for s in stages for iv in s["tasks"]]
    n_jobs, waits = [], []
    shuffle = 0
    longest = None
    for t0, t1 in windows:
        n_jobs.append(sum(1 for t in job_starts if t0 <= t <= t1))
        waits.append((t1 - t0) - busy_union(tasks, t0, t1))
        for s in stages:
            if s["start"] is not None and t0 <= s["start"] <= t1:
                shuffle += s["shuffle_write"]
                if s["tasks"]:
                    span = max(b for _, b in s["tasks"]) - min(a for a, _ in s["tasks"])
                    if longest is None or span > longest[0]:
                        longest = (span, [b - a for a, b in s["tasks"]])
    skew = 0.0
    if longest is not None:
        med = statistics.median(longest[1])
        skew = max(longest[1]) / med if med > 0 else 1.0
    return {
        "jobs_per_window": statistics.median(n_jobs),
        "driver_wait_s": waits,
        "shuffle_write_mb": shuffle / 2**20,
        "task_skew": skew,
    }

