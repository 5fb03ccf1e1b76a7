#!/usr/bin/env python3
"""Smoke self-test of the benchmark at tiny size (a few minutes).

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced with ``--smoke``
inputs and checks that each run prints every metric named in
BENCHMARK.json with its unit, that no operation failed, and that
predictions.json covers every per-layer metric. Finally checks that the
benchmark refuses to run, without printing a result, when the program
sources are absent.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd: str, workload: str, trace: int) -> tuple[int, str]:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload",
           workload, "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"]
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=cwd, timeout=600)
    return proc.returncode, proc.stdout


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "predictions.json")) as f:
        predicted = {p["metric"] for p in json.load(f)["predictions"]}
    problems = []
    missing = {m["name"] for m in spec["per_layer"]} - predicted
    if missing:
        problems.append(f"predictions.json lacks {sorted(missing)}")

    for wl in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, out = run(ROOT, wl, trace)
            lines = out.strip().splitlines()
            if code != 0 or not lines:
                problems.append(f"{wl} trace={trace}: exit {code}")
                continue
            res = json.loads(lines[-1])
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{wl} trace={trace}: result keys {sorted(res)}")
            if res["failed"] != 0 or not res["correct"] or res["attempted"] < 1:
                problems.append(f"{wl} trace={trace}: error_rate "
                                f"{res['failed']}/{res['attempted']}")
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"]:
                    problems.append(f"{wl} trace={trace}: {m['name']} missing or "
                                    f"wrong unit ({got})")
            print(f"{wl} trace={trace}: {len(res['metrics'])} metrics, "
                  f"{res['failed']}/{res['attempted']} failed")

    bare = os.path.join(ROOT, ".bench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, out = run(bare, "wide_drain", 0)
    shutil.rmtree(bare, ignore_errors=True)
    if code == 0 or out.strip():
        problems.append("run without program sources did not fail cleanly")

    for p in problems:
        print("FAIL:", p)
    print("selftest:", "FAILED" if problems else "OK")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
