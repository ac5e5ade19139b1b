#!/usr/bin/env python3
"""Record ``perfbench/results/traced_run.json``: for each workload, one
untraced and one traced run under the same seed, the traced run's
per-layer metrics, and the tracing overhead between the two. Each run
measures ``run_seconds`` of ``BENCHMARK.json``.

Usage, from the root of a checkout::

    python3 perfbench/record_traced.py
"""

from __future__ import annotations

import json
import os
import platform

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7


def main() -> None:
    from prove import one_run
    from run import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    report = {"host": f"{platform.machine()}, {os.cpu_count()} cores",
              "seed": SEED, "seconds": seconds, "workloads": {}}
    for workload in WORKLOADS:
        plain = one_run(workload, SEED, seconds, 0)
        traced = one_run(workload, SEED, seconds, 1)
        p50 = plain["metrics"]["query_p50_s"]["value"]
        rps = plain["metrics"]["requests_per_s"]["value"]
        t = traced["metrics"]
        report["workloads"][workload] = {
            "untraced": plain,
            "traced": traced,
            "tracing_overhead": {
                "query_p50_s": t["trace.query_p50_s"]["value"] / p50 - 1,
                "requests_per_s": 1 - t["trace.requests_per_s"]["value"] / rps,
            },
        }
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    with open(os.path.join(HERE, "results", "traced_run.json"), "w") as fh:
        json.dump(report, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
