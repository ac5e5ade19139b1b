#!/usr/bin/env python3
"""Record ``perfbench/results/proof_runs.json``: two sets of ten untraced
runs of each workload, each run under its own seed, with each set's
median and spread of every end-to-end metric and how far set B's medians
lie from set A's. The spread is the distance between the first and the
third quartile over the median. Each run measures ``run_seconds`` of
``BENCHMARK.json``.

Usage, from the root of a checkout::

    python3 perfbench/prove.py
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETS = {"A": range(401, 411), "B": range(501, 511)}


def one_run(workload: str, seed: int, seconds: int, trace: int = 0) -> dict:
    """One run of ``run.py``: its wall time, note line and result."""
    t0 = time.monotonic()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True)
    lines = out.stdout.strip().splitlines()
    return {"wall_s": round(time.monotonic() - t0, 1), "note": lines[-2],
            **json.loads(lines[-1])}


def flat(seed: int, run: dict) -> dict:
    """A run's seed, wall time, note, counts and metric values."""
    return {"seed": seed, "wall_s": run["wall_s"], "note": run["note"],
            "attempted": run["attempted"], "failed": run["failed"],
            **{k: v["value"] for k, v in run["metrics"].items()}}


def summary(runs: list[dict], names: list[str]) -> dict:
    out = {}
    for name in names:
        q1, median, q3 = statistics.quantiles([r[name] for r in runs], n=4)
        out[name] = {"median": median, "spread": (q3 - q1) / median}
    return out


def main() -> None:
    from run import WORKLOADS, declared_metrics

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    names = list(declared_metrics()[0])
    report = {"host": f"{platform.machine()}, {os.cpu_count()} cores",
              "seconds": seconds, "sets": {}, "agreement": {}}
    for label, seeds in SETS.items():
        report["sets"][label] = {}
        for workload in WORKLOADS:
            runs = [flat(seed, one_run(workload, seed, seconds))
                    for seed in seeds]
            report["sets"][label][workload] = {
                "runs": runs, "summary": summary(runs, names),
                "wall_s_total": round(sum(r["wall_s"] for r in runs), 1)}
    a, b = (report["sets"][label] for label in SETS)
    for workload in WORKLOADS:
        report["agreement"][workload] = {
            name: b[workload]["summary"][name]["median"]
            / a[workload]["summary"][name]["median"] - 1 for name in names}
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    with open(os.path.join(HERE, "results", "proof_runs.json"), "w") as fh:
        json.dump(report, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
