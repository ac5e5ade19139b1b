#!/usr/bin/env python3
"""Bulk graph-build scale probe: time ``build_graph`` per method at
1x/10x/100x corpora (bulk_load state, auto-sized IVF).

Completes the round-9 bulk-bootstrap story: BASELINE.md's graph-chain
probe measured the REGISTRY edge build (fixed 20-query graph) and the
algorithm chains; this probe measures the one-pass full-corpus build
that ``bulk_load`` defers — each method where affordable:

- ``exact``: chunked dgemm kernel, n^2*d flops over max_collect query
  blocks (each block is one corpus pass) — expected e ~= 2 on wall
  time with a large constant DIVIDED by dgemm throughput.
- ``ivf``: the probed cell build — the cells kernel with each doc also
  querying its next-nearest cells (``IVF_PROBES`` cells in all),
  ~n*probes*(n/ncent) pairs scored by dgemm; skipped past
  --ivf-max-factor.

Every build appends to the one edge store under its own key, so each
route's edge count (``cells_edges``, ``exact_edges``, ``ivf_edges``) is
read from that key's own write, not from the cumulative store.

Usage:
    python3 scripts/probe_graph_build.py --factors 1,10 --ivf-max-factor 10
    python3 scripts/probe_graph_build.py --factors 1,10,100   # exact at 100x
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from multi_model_vectorsearch_spark import get_spark  # noqa: E402
from multi_model_vectorsearch_spark.streaming.ingest import (  # noqa: E402
    EDGE_SCHEMA,
    IngestPipeline,
)

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from probe_serving_scale import docs_frame  # noqa: E402
from scale_probe import synthesize  # noqa: E402


def key_edges(pipe: IngestPipeline, key: str) -> int:
    """Edge rows one ``build_graph`` call wrote under its own ``key``."""
    return pipe._read_parts([pipe._bdir(pipe.edges_dir, key)],
                            EDGE_SCHEMA).count()


def mode_skew(spark, args) -> None:
    """Forced-skew measurement: a one-cell index (every doc in the same
    IVF cell — the dominant-near-dup-cluster shape dedup runs on) built
    via build_graph(method='cells'). The blocked arm bounds every task
    at ~cap rows per side (r² tasks); the single-task arm is the pre-r10
    behavior and is only run at small factors (one core does the whole
    m² square). Output equality of the two arms is pinned by
    test_build_graph_cells_blocked_matches_single_task."""
    rows = []
    for f in [int(x) for x in args.factors.split(",")]:
        if f == 1:
            data_dir, cleanup = args.src, False
        else:
            data_dir, cleanup = f"{args.out}_serve_f{f}", not args.keep
            if not os.path.isdir(data_dir):
                synthesize(spark, args.src, data_dir, f,
                           pair_density="constant")
        state = tempfile.mkdtemp(prefix=f"graph_skew_f{f}_")
        try:
            pipe = IngestPipeline(spark, state, k=10, maintain_ivf=True,
                                  n_centroids=1, ivf_bootstrap=16,
                                  max_collect=16384)
            docs = docs_frame(spark, data_dir)
            pipe.bulk_load(docs)
            n = pipe.corpus().count()
            import math as _m

            r = _m.ceil(n / args.cap)
            row = {"factor": f, "n_docs": n, "one_cell": True,
                   "cap": args.cap, "r_blocks": r, "tasks": r * r}
            pipe.cell_rows_cap = args.cap
            t0 = time.perf_counter()
            pipe.build_graph(method="cells", key="gb")
            row["blocked_sec"] = round(time.perf_counter() - t0, 2)
            row["edges"] = pipe.edges().count()
            if f <= args.single_task_max_factor:
                pipe.cell_rows_cap = 1 << 40  # force the single-task path
                t0 = time.perf_counter()
                pipe.build_graph(method="cells", key="gs")
                row["single_task_sec"] = round(time.perf_counter() - t0, 2)
            rows.append(row)
            print(f"## skew factor {f}: {json.dumps(row)}", flush=True)
        finally:
            shutil.rmtree(state, ignore_errors=True)
            if cleanup:
                shutil.rmtree(data_dir, ignore_errors=True)
    print(json.dumps({"mode": "graph_build_skew", "rows": rows},
                     indent=1, sort_keys=True))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factors", default="1,10")
    ap.add_argument("--ivf-max-factor", type=int, default=10)
    ap.add_argument("--exact-max-factor", type=int, default=100)
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/sf_scaled")
    ap.add_argument("--keep", action="store_true")
    ap.add_argument("--skew", action="store_true",
                    help="forced-skew arm (r9 verdict item 2): ONE cell "
                         "holds the whole corpus (n_centroids=1); build "
                         "with the block-pair decomposition (bounded "
                         "tasks) and, where affordable, the single-task "
                         "kernel for the A/B")
    ap.add_argument("--cap", type=int, default=100_000,
                    help="cell_rows_cap for the skew arm's blocked build")
    ap.add_argument("--single-task-max-factor", type=int, default=10,
                    help="run the uncapped single-task arm only at or "
                         "below this factor (one core does the whole "
                         "m^2 square)")
    args = ap.parse_args()
    spark = get_spark("graph-build-probe")

    if args.skew:
        mode_skew(spark, args)
        return

    rows = []
    for f in [int(x) for x in args.factors.split(",")]:
        if f == 1:
            data_dir, cleanup = args.src, False
        else:
            data_dir, cleanup = f"{args.out}_serve_f{f}", not args.keep
            if not os.path.isdir(data_dir):
                synthesize(spark, args.src, data_dir, f,
                           pair_density="constant")
        state = tempfile.mkdtemp(prefix=f"graph_build_f{f}_")
        try:
            pipe = IngestPipeline(spark, state, k=10, maintain_ivf=True,
                                  n_centroids=None, max_collect=16384)
            docs = docs_frame(spark, data_dir)
            t0 = time.perf_counter()
            pipe.bulk_load(docs)
            bulk_sec = round(time.perf_counter() - t0, 2)
            n = pipe.corpus().count()
            row = {"factor": f, "n_docs": n, "bulk_load_sec": bulk_sec,
                   "n_centroids": pipe.centroids().count()}
            t0 = time.perf_counter()
            pipe.build_graph(method="cells", key="gc")
            row["cells_sec"] = round(time.perf_counter() - t0, 2)
            row["cells_edges"] = key_edges(pipe, "gc")
            if f <= args.exact_max_factor:
                t0 = time.perf_counter()
                pipe.build_graph(method="exact", key="gx")
                row["exact_sec"] = round(time.perf_counter() - t0, 2)
                row["exact_edges"] = key_edges(pipe, "gx")
            if f <= args.ivf_max_factor:
                t0 = time.perf_counter()
                pipe.build_graph(method="ivf", key="gi")
                row["ivf_sec"] = round(time.perf_counter() - t0, 2)
                row["ivf_edges"] = key_edges(pipe, "gi")
            rows.append(row)
            print(f"## factor {f}: {json.dumps(row)}", flush=True)
        finally:
            shutil.rmtree(state, ignore_errors=True)
            if cleanup:
                shutil.rmtree(data_dir, ignore_errors=True)
    exps = {}
    for a, b in zip(rows, rows[1:]):
        rn = math.log(b["n_docs"] / a["n_docs"])
        for kk in ("exact_sec", "ivf_sec", "cells_sec"):
            if a.get(kk) and b.get(kk):
                exps[f"{kk}@{a['factor']}x->{b['factor']}x"] = round(
                    math.log(b[kk] / a[kk]) / rn, 3)
    print(json.dumps({"mode": "graph_build", "rows": rows,
                      "exponents": exps}, indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
