"""Crawl workloads: ``wide_drain`` and ``deep_crawl``.

Both drive the public engine API (``CrawlEngine.start`` / ``superstep``)
on a synthetic web generated from the workload seed, time each call from
outside, and check the final tables against ``simulator.simulate`` on
the same config. The traced run adds the engine's own phase timings,
``lineage`` counts, Spark REST metrics and a replay of one steady-state
superstep through the individual operators.
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

from common import (
    ROOT,
    RssSampler,
    SparkRest,
    Tracer,
    add_engine_phases,
    dir_usage,
    pin_tree,
    python_worker_cpu_s,
    window_metrics,
)


@dataclass(frozen=True)
class CrawlShape:
    hosts: int
    batch: int
    compact_every: int
    steps: int  # timed supersteps per RUN_S seconds of --seconds


# Nominal length of the timed section (``start()`` plus ``steps``
# supersteps) on a 4-vCPU box; --seconds is rounded to a multiple of it.
RUN_S = 30.0


# wide_drain: batch above the host count, so every root page is fetched in
# superstep 1 and per-page work (fetch/extract, decode+phash, 1-5 images a
# page) is what grows with size; the eligible set stays under the
# 25x-batch pool, so the scheduler's pool cut never runs. Two supersteps:
# superstep 1 discovers only new URLs, and bloom positives from cycle
# edges first reach the exact anti-join in superstep 2.
#
# deep_crawl: tens of hosts and a small batch. The seed list alone nearly
# fills the 100-row candidate pool, so from superstep 2 on the frontier
# outgrows it and the pool-cut path runs. compact_every=2 puts the first
# compaction in superstep 1, so later supersteps run on a compacted
# frontier. Fixed per-superstep cost dominates: scheduler jobs, the
# commit pool, chained checkpoints, the filter advance and manifests.
# At these sizes fixed per-superstep cost dominates both workloads on a
# 4-vCPU box (10-16 s a superstep); a run takes 45-60 s, session start
# included, which is what a full round of runs can afford.
SHAPES = {
    "wide_drain": CrawlShape(hosts=1000, batch=1016, compact_every=8, steps=2),
    "deep_crawl": CrawlShape(hosts=96, batch=4, compact_every=2, steps=2),
}
# the same shapes at a size the self-test can afford
SMOKE_SHAPES = {
    **SHAPES,
    "wide_drain": CrawlShape(hosts=200, batch=216, compact_every=8, steps=2),
}

TIMINGS = ("select", "fetch_probe", "side_commits", "c_front", "c_pol",
           "c_lin", "c_pay", "c_filt", "c_chain_f", "c_chain_p", "chain")


def crawl_config(workload: str, seed: int, shape: CrawlShape):
    from par_scrape_spark.config import CrawlConfig, CrawlType
    from par_scrape_spark.sources.synthetic_web import seed_urls

    return CrawlConfig(
        run_name=f"{workload}_{seed}",
        seeds=tuple(seed_urls(seed, shape.hosts)),
        crawl_type=CrawlType.DOMAIN,
        crawl_batch_size=shape.batch,
        crawl_max_pages=10**9,
        web_seed=seed,
        compact_every=shape.compact_every,
        log_selection=False,
    )


def check_against_simulator(eng, cfg, n_steps: int) -> set[int]:
    """Supersteps whose results differ from the reference simulator.

    Superstep ``t`` is wrong if the URLs it selected (``last_processed_at
    == t``), their final statuses, or the URLs it discovered (``queued_at
    == t``) differ. Seed rows (tick 0) are charged to superstep 1.
    """
    from par_scrape_spark.simulator import simulate

    sim = simulate(cfg, max_supersteps=n_steps)
    want = {u: (r.status, r.last_processed_at, r.queued_at) for u, r in sim.frontier.items()}
    rows = (
        eng.frontier.read(eng.state["snapshots"]["frontier"])
        .select("url", "status", "last_processed_at", "queued_at")
        .collect()
    )
    got = {r["url"]: (r["status"], r["last_processed_at"], r["queued_at"]) for r in rows}
    bad: set[int] = set()
    for url in set(want) | set(got):
        a, b = want.get(url), got.get(url)
        if a == b:
            continue
        for rec in (a, b):
            if rec is not None:
                bad.add(max(1, rec[1] or 0))
                bad.add(max(1, rec[2] or 0))
    if len(rows) != len(got):  # a URL stored twice
        bad.add(n_steps)
    return {t for t in bad if t <= n_steps}


def run_crawl(spark, workload: str, seed: int, seconds: float, tracer: Tracer,
              work: str, steps: int | None = None, smoke: bool = False,
              pin_cpu: int | None = None) -> dict:
    """Start the crawl, then time ``steps`` supersteps (by default as many
    as ``seconds`` allows). With ``pin_cpu`` the whole process tree is
    pinned to that CPU after ``start()``, before the first superstep."""
    from par_scrape_spark.plans.crawl import CrawlEngine

    shape = (SMOKE_SHAPES if smoke else SHAPES)[workload]
    cfg = crawl_config(workload, seed, shape)
    n_total = steps or shape.steps * max(1, round(seconds / RUN_S))
    warehouse = os.path.join(work, "warehouse")
    eng = CrawlEngine(spark, cfg, warehouse)

    walls: list[float] = []
    pages: list[int] = []
    windows: list[tuple[float, float]] = []
    deltas: list[int] = []
    failed_steps: set[int] = set()
    with tracer.span("run", workload=workload, seed=seed):
        with RssSampler() as rss:
            with tracer.span("start"):
                t0 = time.perf_counter()
                eng.start()
                seed_s = time.perf_counter() - t0
            if pin_cpu is not None:
                pin_tree(pin_cpu)
            usage0 = dir_usage(warehouse)
            for step in range(1, n_total + 1):
                with tracer.span("superstep", superstep=step) as sp:
                    w0 = time.time()
                    t0 = time.perf_counter()
                    try:
                        n = eng.superstep()
                    except Exception as e:  # counted as a failed operation
                        print(f"superstep {step} raised: {e!r}", file=sys.stderr)
                        failed_steps.add(step)
                        break
                    wall = time.perf_counter() - t0
                    w1 = time.time()
                if sp is not None:
                    add_engine_phases(tracer, sp, eng.timings[-1])
                    deltas.append(eng.frontier.delta_count())
                walls.append(wall)
                pages.append(n)
                windows.append((w0, w1))
            usage1 = dir_usage(warehouse)

    attempted = step
    # the pinned single-CPU baseline repeats a superstep the parent run
    # checks, so it skips the check: pinned, it would add seconds
    if not failed_steps and pin_cpu is None:
        with tracer.span("check"):
            failed_steps |= check_against_simulator(eng, cfg, n_total)
    if not walls:
        raise RuntimeError(f"{workload}: no superstep completed")

    metrics = {
        "seed_s": seed_s,
        "pages_per_s": sum(pages) / sum(walls),
        "superstep_p50_s": statistics.median(walls),
        "peak_rss_mb": rss.peak_mb,
    }
    info = {"supersteps": len(walls), "pages": sum(pages),
            "superstep_s": [round(w, 3) for w in walls]}
    layers = {}
    if tracer.enabled:
        layers = crawl_layers(spark, eng, cfg, windows, usage0, usage1, deltas,
                              tracer)
        info["first_superstep_pages_per_s"] = pages[0] / walls[0]
        info["breakdown"] = breakdown(eng.timings, deltas,
                                      layers.pop("_driver_wait_per_step"))
    return {
        "attempted": attempted,
        "failed": len(failed_steps),
        "metrics": metrics,
        "layers": layers,
        "info": info,
    }


def _median_phase(timings: list[dict], key: str) -> float:
    vals = [t[key] for t in timings if key in t]
    return statistics.median(vals) if vals else 0.0


def crawl_layers(spark, eng, cfg, windows, usage0, usage1, deltas, tracer) -> dict:
    from pyspark.sql import functions as F

    timed = eng.timings
    steps = list(range(1, len(timed) + 1))
    rest = SparkRest(spark)
    sm = window_metrics(rest, windows)
    py_io = rest.python_io_bytes(windows[0][0], windows[-1][1])

    lin = (
        eng.lineage.read(eng.state["snapshots"]["lineage"])
        .filter(F.col("superstep").isin(steps))
        .agg(*[F.sum(c).alias(c) for c in (
            "selected", "fetched_ok", "robots_denied", "dedup_hits",
            "new_urls", "images")])
        .collect()[0]
    )
    lin = {k: int(v or 0) for k, v in lin.asDict().items()}
    allowed = lin["dedup_hits"] + lin["new_urls"]
    sidecar = dir_usage(os.path.join(eng.warehouse, "_filters", cfg.run_name))[1]

    with tracer.span("replay"):
        replay = replay_superstep(eng, cfg)

    return {
        "crawl.commit_pool_s": _median_phase(timed, "side_commits"),
        "crawl.chain_frontier_s": _median_phase(timed, "c_chain_f"),
        "crawl.chain_politeness_s": _median_phase(timed, "c_chain_p"),
        "crawl.spark_jobs_per_superstep": sm["jobs_per_window"],
        "crawl.driver_wait_s": statistics.median(sm["driver_wait_s"]),
        "scheduler.select_s": _median_phase(timed, "select"),
        "scheduler.selected": lin["selected"] / len(steps),
        "scheduler.pool_cut": replay["pool_cut"],
        "links.fetch_probe_s": _median_phase(timed, "fetch_probe"),
        "links.pages_fetched": lin["fetched_ok"],
        "links.links_out": lin["robots_denied"] + allowed,
        "links.udf_cpu_s": replay["fetch_cpu_s"],
        "robots.allowed": allowed,
        "robots.denied": lin["robots_denied"],
        "dedup.candidates": replay["candidates"],
        "dedup.filter_positive": replay["filter_positive"],
        "dedup.exact_hits": replay["exact_hits"],
        "dedup.filter_precision": (replay["exact_hits"] / replay["filter_positive"]
                                   if replay["filter_positive"] else 0.0),
        "dedup.new_urls": lin["new_urls"],
        "dedup.filter_advance_s": _median_phase(timed, "c_filt"),
        "dedup.sidecar_mb": sidecar / 2**20,
        "payload.images": lin["images"],
        "payload.decode_cpu_s": replay["decode_cpu_s"],
        "payload.commit_s": _median_phase(timed, "c_pay"),
        "tableio.commit_frontier_s": _median_phase(timed, "c_front"),
        "tableio.commit_politeness_s": _median_phase(timed, "c_pol"),
        "tableio.commit_lineage_s": _median_phase(timed, "c_lin"),
        "tableio.files_written": usage1[0] - usage0[0],
        "tableio.bytes_written_mb": (usage1[1] - usage0[1]) / 2**20,
        "tableio.delta_chain_len": max(deltas) if deltas else 0,
        "tableio.compact_s": replay["compact_s"],
        "tableio.read_resolve_s": replay["read_resolve_s"],
        "spark.shuffle_write_mb": sm["shuffle_write_mb"],
        "spark.python_io_mb": py_io / 2**20,
        "spark.task_skew": sm["task_skew"],
        "_driver_wait_per_step": sm["driver_wait_s"],
    }


def replay_superstep(eng, cfg) -> dict:
    """Time the public operators of one superstep on materialized
    boundary inputs taken from the run's final state. Runs after the
    correctness check: the compaction at the end rewrites the frontier."""
    from pyspark.sql import functions as F

    from par_scrape_spark import policy
    from par_scrape_spark.config import CANDIDATE_POOL_FACTOR, CANDIDATE_POOL_MIN
    from par_scrape_spark.operators import robots as robots_ops
    from par_scrape_spark.operators import scheduler
    from par_scrape_spark.operators.links import child_candidates, fetch_extract
    from par_scrape_spark.operators.payload import fetch_decode_phash

    snaps = eng.state["snapshots"]
    tick = eng.state["tick"] + 1
    t0 = time.perf_counter()
    frontier = eng.frontier.read(snaps["frontier"]).localCheckpoint(eager=True)
    read_resolve_s = time.perf_counter() - t0
    politeness = eng.politeness.read(snaps["politeness"]).localCheckpoint(eager=True)

    pool = max(cfg.crawl_batch_size * CANDIDATE_POOL_FACTOR, CANDIDATE_POOL_MIN)
    eligible = scheduler.eligible_rows(frontier, cfg.run_name, cfg.scrape_retries).count()
    selected, _ = scheduler.select_batch_with_count(
        frontier, politeness, cfg.run_name, tick, cfg.crawl_batch_size,
        cfg.scrape_retries, cfg.respect_rate_limits,
    )
    selected = selected.repartition(F.col("host_salt")).localCheckpoint(eager=True)

    seed_set = frozenset(
        policy.canonicalize_url(u) for u in cfg.seeds if policy.is_valid_url(u)
    )
    c0 = python_worker_cpu_s()
    fetched = fetch_extract(
        selected.drop("content_hash"), cfg.web_seed, cfg.crawl_type, seed_set,
        cfg.fetch_options,
    ).localCheckpoint(eager=True)
    fetch_cpu_s = python_worker_cpu_s() - c0

    cands = child_candidates(fetched, cfg.run_name, tick, tick, cfg.num_buckets)
    gated = robots_ops.robots_gate(cands, politeness, cfg.respect_robots)
    allowed = gated.filter(F.col("robots_allowed")).drop("robots_allowed")
    allowed = allowed.localCheckpoint(eager=True)
    probed = eng.filters.probe_udf_cols(allowed, eng.state["filter_step"])
    maybe = probed.filter(F.col("maybe_seen")).select("run", "url_hash", "url")
    maybe = maybe.localCheckpoint(eager=True)
    hits = frontier.select("run", "url_hash", "url").join(
        F.broadcast(maybe), ["run", "url_hash", "url"], "left_semi"
    )

    c0 = python_worker_cpu_s()
    ok_pages = fetched.filter(F.col("fetch_error").isNull())
    fetch_decode_phash(ok_pages, cfg.run_name, cfg.web_seed, tick).write.format(
        "noop"
    ).mode("overwrite").save()
    decode_cpu_s = python_worker_cpu_s() - c0

    out = {
        "pool_cut": int(eligible > pool),
        "fetch_cpu_s": fetch_cpu_s,
        "candidates": allowed.count(),
        "filter_positive": maybe.count(),
        "exact_hits": hits.count(),
        "decode_cpu_s": decode_cpu_s,
        "read_resolve_s": read_resolve_s,
    }
    t0 = time.perf_counter()
    eng.frontier.compact(snaps["frontier"])
    out["compact_s"] = time.perf_counter() - t0
    return out


def breakdown(timings: list[dict], deltas: list[int], waits: list[float]) -> list[dict]:
    """Per-superstep layer breakdown. A superstep that leaves no frontier
    deltas behind compacted."""
    rows = []
    for i, t in enumerate(timings):
        rows.append({
            "superstep": i + 1,
            "compacted": deltas[i] == 0,
            "total_s": t.get("total"),
            "driver_wait_s": round(waits[i], 3),
            **{k: t[k] for k in TIMINGS if k in t},
        })
    return rows


def single_cpu_pages_per_s(seed: int, smoke: bool) -> float:
    """Pages/s of ``wide_drain``'s first superstep at ``local[1]`` with the
    whole process tree pinned to one CPU with ``taskset``, in a fresh
    process with its own JVM and workers. Session start and ``start()``
    run unpinned: they are not timed here, and pinned they would double
    the traced run's length."""
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
           "--workload", "wide_drain", "--seed", str(seed), "--seconds", "1",
           "--trace", "0", "--supersteps", "1",
           "--pin-cpu", str(min(os.sched_getaffinity(0)))] + (["--smoke"] if smoke else [])
    # own process group, so a timeout also ends the child's JVM and workers
    with subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, cwd=ROOT, start_new_session=True) as proc:
        try:
            out, err = proc.communicate(timeout=120)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            raise RuntimeError("single-CPU baseline timed out") from None
    lines = out.strip().splitlines()
    res = json.loads(lines[-1]) if lines else {}
    if proc.returncode != 0 or not res.get("correct"):
        raise RuntimeError(f"single-CPU baseline failed: {err[-2000:]}")
    return res["metrics"]["pages_per_s"]["value"]
