#!/usr/bin/env python3
"""Crawl-engine benchmark: one workload per invocation.

    python3 perfbench/run.py --workload wide_drain --seed 1 --seconds 15 --trace 0

Workloads: ``wide_drain`` and ``deep_crawl``, crawls checked against the
reference simulator. Inputs are generated from ``--seed``. With
``--trace 0`` the last stdout line is a JSON object with every end-to-end
metric of BENCHMARK.json; with ``--trace 1`` it holds every per-layer
metric instead (the ``deep_crawl`` traced run adds the declared queries,
checked against their DuckDB oracles), and the spans are written to
``.bench_work/traces/``. Run from anywhere; all scratch files live in
``.bench_work/`` at the root of the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402

WORKLOADS = ("wide_drain", "deep_crawl")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs, for the self-test only")
    p.add_argument("--supersteps", type=int, default=None,
                   help="timed supersteps, overriding --seconds")
    p.add_argument("--pin-cpu", type=int, default=None,
                   help="run at local[1] and pin to this CPU before the first "
                        "superstep (the single-CPU baseline)")
    return p.parse_args(argv)


def _stop(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _fmt(spec: list[dict], values: dict) -> dict:
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
            for m in spec}


def main(argv=None) -> int:
    args = parse_args(argv)
    root = common.ROOT
    bench_json = os.path.join(root, "BENCHMARK.json")
    needed = [os.path.join(root, "par_scrape_spark", "plans", "crawl.py"),
              os.path.join(root, "__spark_entry__.py"), bench_json]
    missing = [p for p in needed if not os.path.isfile(p)]
    if missing:
        print(f"perfbench: program sources missing from this checkout: {missing}",
              file=sys.stderr)
        return 2
    with open(bench_json) as f:
        spec = json.load(f)

    work = os.path.join(root, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    common.prepare_environment(work)
    sys.path.insert(0, root)
    import crawls
    import curation

    tracer = common.Tracer(args.trace == 1)
    cores = 1 if args.pin_cpu is not None else common.nproc()
    spark = None
    try:
        with tracer.span("setup"):
            spark, phases = common.start_spark(args.trace == 1, work, cores)
        res = crawls.run_crawl(spark, args.workload, args.seed, args.seconds, tracer,
                               work, args.supersteps, args.smoke, args.pin_cpu)
        res["metrics"]["setup_s"] = sum(phases.values())
        if args.trace and args.workload == "deep_crawl":
            q = curation.query_layers(spark, args.seed, tracer, work, args.smoke)
            res["attempted"] += q["attempted"]
            res["failed"] += q["failed"]
            res["layers"].update(q["layers"])
        if args.trace:
            layers = {m["name"]: 0.0 for m in spec["per_layer"]}
            layers.update(res["layers"])
            layers["session.jvm_start_s"] = phases["jvm_start_s"]
            layers["session.worker_warmup_s"] = phases["worker_warmup_s"]
            for k in ("seed_s", "superstep_p50_s", "pages_per_s"):
                layers[f"trace.{k}"] = res["metrics"][k]
            if args.workload == "wide_drain":
                one = crawls.single_cpu_pages_per_s(args.seed, args.smoke)
                layers["scaling_efficiency"] = (
                    res["info"]["first_superstep_pages_per_s"] / (cores * one)
                    if cores > 1 else 1.0)
            unknown = set(layers) - {m["name"] for m in spec["per_layer"]}
            if unknown:
                raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
            metrics = _fmt(spec["per_layer"], layers)
            trace_path = os.path.join(root, ".bench_work", "traces",
                                      f"{args.workload}-{args.seed}.json")
            tracer.dump(trace_path, {"workload": args.workload, "seed": args.seed,
                                     "cores": cores, "setup": phases,
                                     "end_to_end": res["metrics"], "info": res["info"]})
            print(f"trace written to {trace_path}")
        else:
            metrics = _fmt(spec["end_to_end"], res["metrics"])
        for row in res["info"].pop("breakdown", []):
            print("superstep " + json.dumps(row))
        print("info " + json.dumps(res["info"]))
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    rate = res["failed"] / res["attempted"]
    print(f"error_rate {rate:.4f} ratio ({res['failed']}/{res['attempted']} operations failed)")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    t0 = time.time()
    code = main()
    print(f"perfbench: finished in {time.time() - t0:.1f}s", file=sys.stderr)
    sys.exit(code)
