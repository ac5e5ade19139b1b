#!/usr/bin/env python3
"""Serving-scale probe (round-9 verdict items 1 and 8).

``--mode scaling`` (default): build pipeline state at 1x/10x/100x the
sf0.1 corpus (5k/50k/500k docs) via ``bulk_load`` (backfill path — no
per-doc edge build) with auto-sized IVF (n_centroids=None → √n), then
measure per-query wall time for warm probed ``search_ivf``, warm exact
``search``, and cold ``search_ivf``, plus recall@10 of the probed path
against the exact scan over the same queries. Emits fitted exponents
e = log(t2/t1)/log(n2/n1): the verdict's target is sublinear (e << 1)
for warm ``search_ivf`` — with √n centroids and fixed probes the scanned
candidate set grows ~√n, so e ≈ 0.5 is the design point while exact
search stays e ≈ 1. Each row names the serving ``tier`` that answered
the warm queries (``driver`` while the warm state fits
``DRIVER_TIER_BYTES``); where the engine has the driver tier,
``other_tier`` repeats ``warm()`` and the warm timings with the budget
forced the other way, so both tiers are measured at every factor.

``--mode mixed``: the warm-cache invalidation A/B (item 8). At the 10x
corpus, alternate ingest (500-doc ``process_batch``) with query bursts
and compare three strategies end-to-end: never-warm (cold queries),
re-warm after every batch, and re-warm only every R batches. Reports
per-strategy total wall + the isolated warm() cost so the crossover
(queries-per-batch where re-warming pays) is readable from the JSON.

Usage:
    python3 scripts/probe_serving_scale.py --factor 100
    python3 scripts/probe_serving_scale.py --mode mixed --factor 10
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

from pyspark.sql import functions as F  # noqa: E402

from multi_model_vectorsearch_spark import get_spark, load_tables  # noqa: E402
from multi_model_vectorsearch_spark.streaming import ingest  # noqa: E402
from multi_model_vectorsearch_spark.streaming.ingest import IngestPipeline  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from scale_probe import synthesize  # noqa: E402


def docs_frame(spark, sf_dir: str):
    return load_tables(spark, sf_dir)["documents"].select(
        "doc_id", "text",
        F.element_at(F.array(F.lit("text"), F.lit("image"), F.lit("audio")),
                     (F.col("doc_id") % 3 + 1).cast("int")).alias("modality"),
    )


def timeit(fn, n=5):
    fn()  # untimed warm-up (JIT, broadcast build)
    t0 = time.perf_counter()
    for _ in range(n):
        fn()
    return round((time.perf_counter() - t0) / n, 4)


def per_query(pipe_fn, queries, reps=5):
    return round(timeit(lambda: [pipe_fn(q).collect() for q in queries],
                        n=reps) / len(queries), 4)


def recall_at_k(pipe: IngestPipeline, queries, k=10) -> float:
    """Probed search_ivf vs the exact scan (= search_ivf probing EVERY
    cell, which degenerates to the full corpus scan) — same selection
    semantics on both arms, the dq120 gauge shape."""
    ncent = pipe.centroids().count() or 1
    hits = total = 0
    for q in queries:
        exact = {r.doc_id for r in
                 pipe.search_ivf(q, k=k, probes=ncent).collect()}
        approx = {r.doc_id for r in pipe.search_ivf(q, k=k).collect()}
        hits += len(exact & approx)
        total += k
    return round(hits / total, 4)


def build_state(spark, data_dir: str, state: str) -> tuple:
    pipe = IngestPipeline(spark, state, k=10, maintain_ivf=True,
                          n_centroids=None, max_collect=16384)
    docs = docs_frame(spark, data_dir)
    t0 = time.perf_counter()
    pipe.bulk_load(docs)
    bulk_sec = round(time.perf_counter() - t0, 2)
    return pipe, docs, bulk_sec


def warm_row(pipe: IngestPipeline, queries, ncent: int) -> tuple:
    """``warm()``'s wall and sizes, then warm per-query wall of every
    serving endpoint. ``tier`` is the tier that answered: ``driver``
    while the warm state fits ``DRIVER_TIER_BYTES`` (a checkout without
    that tier always reports ``spark``)."""
    pipe.unwarm()
    t0 = time.perf_counter()
    sizes = pipe.warm()
    row = {
        "warm_sec": round(time.perf_counter() - t0, 2),
        "tier": "driver" if sizes.get("driver_rows") else "spark",
        "driver_bytes": sizes.get("driver_bytes", 0),
        "warm_ivf_sq": per_query(
            lambda q: pipe.search_ivf(q, k=10), queries),
        "warm_exact_sq": per_query(
            lambda q: pipe.search_ivf(q, k=10, probes=ncent), queries),
        "warm_search_sq": per_query(
            lambda q: pipe.search(q, k=10), queries),
        "warm_search_routed_sq": per_query(
            lambda q: pipe.search(q, k=10, route="ivf"), queries),
    }
    return row, sizes


def mode_scaling(spark, args) -> None:
    """Per factor, warm serving on the tier ``DRIVER_TIER_BYTES`` picks;
    on a checkout with the driver tier, ``other_tier`` holds the same
    warm figures with the budget forced the other way (0, or unbounded
    for a corpus over it), so both tiers are measured at every size."""
    budget = getattr(ingest, "DRIVER_TIER_BYTES", None)
    rows = []
    factors = ([int(x) for x in args.factors.split(",")] if args.factors
               else [f for f in (1, 10, 100, 1000) if f <= args.factor])
    for f in factors:
        if f == 1:
            data_dir, cleanup = args.src, False
        else:
            data_dir, cleanup = f"{args.out}_serve_f{f}", not args.keep
            if not os.path.isdir(data_dir):
                synthesize(spark, args.src, data_dir, f,
                           pair_density="constant")
        state = tempfile.mkdtemp(prefix=f"serve_scale_f{f}_")
        try:
            pipe, docs, bulk_sec = build_state(spark, data_dir, state)
            n = pipe.corpus().count()
            ncent = pipe.centroids().count()
            queries = [r.text for r in
                       docs.orderBy("doc_id").limit(5).collect()]
            warm, sizes = warm_row(pipe, queries, ncent)
            row = {
                "factor": f, "n_docs": n, "n_centroids": ncent,
                "edge_rows": sizes.get("edge_rows", 0),
                "bulk_load_sec": bulk_sec, **warm,
                "recall_at_10": recall_at_k(pipe, queries),
                "index_rows": sizes.get("index_rows", 0),
            }
            if budget:
                try:
                    ingest.DRIVER_TIER_BYTES = (
                        0 if warm["tier"] == "driver" else 1 << 62)
                    row["other_tier"], _ = warm_row(pipe, queries, ncent)
                finally:
                    ingest.DRIVER_TIER_BYTES = budget
            pipe.unwarm()
            row["cold_ivf_sq"] = per_query(
                lambda q: pipe.search_ivf(q, k=10), queries, reps=3)
            rows.append(row)
            print(f"## factor {f}: {json.dumps(row)}", flush=True)
        finally:
            shutil.rmtree(state, ignore_errors=True)
            if cleanup:
                shutil.rmtree(data_dir, ignore_errors=True)
    exps = {}
    for a, b in zip(rows, rows[1:]):
        rn = math.log(b["n_docs"] / a["n_docs"])
        for kk in ("warm_ivf_sq", "warm_exact_sq", "cold_ivf_sq"):
            if a[kk] > 0 and b[kk] > 0:
                exps[f"{kk}@{a['factor']}x->{b['factor']}x"] = round(
                    math.log(b[kk] / a[kk]) / rn, 3)
    print(json.dumps({"mode": "scaling", "rows": rows, "exponents": exps},
                     indent=1, sort_keys=True))


def mode_mixed(spark, args) -> None:
    """Ingest/query interleave A/B: cold vs re-warm-per-batch vs periodic."""
    f = args.factor
    data_dir = f"{args.out}_serve_f{f}"
    if not os.path.isdir(data_dir):
        synthesize(spark, args.src, data_dir, f, pair_density="constant")
    docs = docs_frame(spark, data_dir)
    n_all = docs.count()
    base = docs.filter(F.col("doc_id") % 8 != 0)  # ~7/8 pre-loaded
    trickle = docs.filter(F.col("doc_id") % 8 == 0).orderBy("doc_id") \
        .limit(args.rounds * args.batch_docs).collect()
    queries = [r.text for r in docs.orderBy("doc_id").limit(
        args.queries_per_batch).collect()]

    out = {"mode": "mixed", "factor": f, "n_base": None,
           "rounds": args.rounds, "batch_docs": args.batch_docs,
           "queries_per_batch": args.queries_per_batch, "strategies": {}}

    for strategy in ("cold", "rewarm_each", "rewarm_every_4"):
        state = tempfile.mkdtemp(prefix=f"serve_mixed_{strategy}_")
        try:
            pipe = IngestPipeline(spark, state, k=10, maintain_ivf=True,
                                  n_centroids=None, max_collect=16384)
            pipe.bulk_load(base)
            out["n_base"] = out["n_base"] or pipe.corpus().count()
            ingest_s = warm_s = query_s = 0.0
            tiers = set()
            if strategy != "cold":
                t0 = time.perf_counter()
                sizes = pipe.warm()
                warm_s += time.perf_counter() - t0
                tiers.add("driver" if sizes.get("driver_rows") else "spark")
            for r in range(args.rounds):
                chunk = trickle[r * args.batch_docs:(r + 1) * args.batch_docs]
                bdf = spark.createDataFrame(
                    [(d.doc_id, d.text, d.modality) for d in chunk],
                    "doc_id bigint, text string, modality string")
                t0 = time.perf_counter()
                pipe.process_batch(bdf, r)  # auto-unwarms
                ingest_s += time.perf_counter() - t0
                rewarm = (strategy == "rewarm_each" or
                          (strategy == "rewarm_every_4" and r % 4 == 3))
                if rewarm:
                    t0 = time.perf_counter()
                    sizes = pipe.warm()
                    warm_s += time.perf_counter() - t0
                    tiers.add("driver" if sizes.get("driver_rows")
                              else "spark")
                t0 = time.perf_counter()
                for q in queries:
                    pipe.search_ivf(q, k=10).collect()
                query_s += time.perf_counter() - t0
            out["strategies"][strategy] = {
                "ingest_sec": round(ingest_s, 2),
                "warm_sec": round(warm_s, 2),
                "query_sec": round(query_s, 2),
                "query_sq": round(
                    query_s / (args.rounds * len(queries)), 4),
                "total_sec": round(ingest_s + warm_s + query_s, 2),
                "warm_tiers": sorted(tiers),
            }
            print(f"## {strategy}: "
                  f"{json.dumps(out['strategies'][strategy])}", flush=True)
        finally:
            shutil.rmtree(state, ignore_errors=True)
    if not args.keep:
        shutil.rmtree(data_dir, ignore_errors=True)
    print(json.dumps(out, indent=1, sort_keys=True))


def mode_qps(spark, args) -> None:
    """Concurrent-serving throughput (r9 verdict item 4): N client
    threads share ONE warm pipeline and fire probed queries in parallel.
    All serving numbers so far were sequential s/q; a FastAPI-analog
    deployment serves concurrent clients, so this measures QPS and
    latency quantiles at N ∈ {1, 8, 32} for both probed endpoints
    (``search_ivf`` and the full-semantics ``search(route="ivf")``).
    Launch with the FAIR scheduler (``get_spark(fair_scheduler=True)``
    here) so one client's scan cannot park the others behind it; client
    threads are ``pyspark.InheritableThread`` so local properties and
    the active session propagate per Spark's threading contract."""
    import statistics
    import threading

    from pyspark import InheritableThread

    f = args.factor
    if f == 1:
        data_dir, cleanup = args.src, False
    else:
        data_dir, cleanup = f"{args.out}_serve_f{f}", not args.keep
        if not os.path.isdir(data_dir):
            synthesize(spark, args.src, data_dir, f, pair_density="constant")
    state = tempfile.mkdtemp(prefix=f"serve_qps_f{f}_")
    out = {"mode": "qps", "factor": f, "scheduler":
           spark.conf.get("spark.scheduler.mode", "FIFO"), "levels": []}
    try:
        pipe, docs, bulk_sec = build_state(spark, data_dir, state)
        out["n_docs"] = pipe.corpus().count()
        out["n_centroids"] = pipe.centroids().count()
        pipe.warm()
        qtexts = [r.text for r in
                  docs.orderBy("doc_id").limit(64).collect()]

        def run_level(n_clients: int, endpoint: str,
                      timed: bool = True) -> dict:
            """One concurrency level. Each timed level is preceded by an
            untimed burst at the same concurrency (run_level(timed=False))
            — the first concurrent burst on a session pays one-off plan
            analysis/JIT/thread-pool growth that measured 2-3x on p95 and
            is not steady-state serving."""
            lat: list[float] = []
            lock = threading.Lock()
            start = threading.Event()

            def client(cid: int):
                spark.sparkContext.setLocalProperty(
                    "spark.scheduler.pool", f"serve-{cid}")
                mine = [qtexts[(cid * args.queries_per_client + i)
                               % len(qtexts)]
                        for i in range(args.queries_per_client)]
                start.wait()
                local = []
                for q in mine:
                    t0 = time.perf_counter()
                    if endpoint == "search_ivf":
                        pipe.search_ivf(q, k=10).collect()
                    else:
                        pipe.search(q, k=10, route="ivf").collect()
                    local.append(time.perf_counter() - t0)
                with lock:
                    lat.extend(local)

            threads = [InheritableThread(target=client, args=(i,))
                       for i in range(n_clients)]
            for t in threads:
                t.start()
            t0 = time.perf_counter()
            start.set()
            for t in threads:
                t.join()
            wall = time.perf_counter() - t0
            lat.sort()
            nq = len(lat)
            return {"clients": n_clients, "endpoint": endpoint,
                    "queries": nq, "wall_s": round(wall, 2),
                    "qps": round(nq / wall, 2),
                    "p50_s": round(statistics.median(lat), 3),
                    "p95_s": round(lat[max(0, int(nq * 0.95) - 1)], 3),
                    "max_s": round(lat[-1], 3)}

        # untimed warm-up of both plan shapes
        pipe.search_ivf(qtexts[0], k=10).collect()
        pipe.search(qtexts[0], k=10, route="ivf").collect()
        for endpoint in ("search_ivf", "search_routed"):
            for n_clients in (int(x) for x in args.clients.split(",")):
                run_level(n_clients, endpoint, timed=False)  # warm burst
                row = run_level(n_clients, endpoint)
                out["levels"].append(row)
                print(f"## {json.dumps(row)}", flush=True)
        pipe.unwarm()
    finally:
        shutil.rmtree(state, ignore_errors=True)
        if cleanup:
            shutil.rmtree(data_dir, ignore_errors=True)
    print(json.dumps(out, indent=1, sort_keys=True))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=("scaling", "mixed", "qps"),
                    default="scaling")
    ap.add_argument("--factor", type=int, default=100)
    ap.add_argument("--factors", default=None,
                    help="comma list of explicit factors (overrides "
                         "--factor's 1,10,100,1000 prefix), e.g. 100,1000")
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/sf_scaled")
    ap.add_argument("--keep", action="store_true")
    ap.add_argument("--rounds", type=int, default=8)
    ap.add_argument("--batch-docs", type=int, default=500)
    ap.add_argument("--queries-per-batch", type=int, default=5)
    ap.add_argument("--clients", default="1,8,32",
                    help="comma list of concurrency levels for --mode qps")
    ap.add_argument("--queries-per-client", type=int, default=8)
    ap.add_argument("--scheduler", choices=("fair", "fifo"), default="fair",
                    help="qps mode: scheduler A/B (fair is the serving "
                         "recommendation)")
    args = ap.parse_args()
    spark = get_spark("serving-scale-probe",
                      fair_scheduler=(args.mode == "qps"
                                      and args.scheduler == "fair"))
    if args.mode == "scaling":
        mode_scaling(spark, args)
    elif args.mode == "qps":
        mode_qps(spark, args)
    else:
        mode_mixed(spark, args)


if __name__ == "__main__":
    main()
