"""Serving-latency A/B: cold and warm `/search`, warm on both serving tiers.

Builds serving state, then measures the per-query p50 wall of
`search(route="exact")` (collected), `search_ivf` and an 8-text
`search_many` (per call):

- cold: no `warm()`, every query plans against the state stores;
- warm, driver tier: after `warm()`, with the snapshot held on the
  driver (`DRIVER_TIER_BYTES`);
- warm, Spark tier: the same, re-warmed with `DRIVER_TIER_BYTES` patched
  to 0, so warm queries run the Spark kernel pass.

Each tier's `warm()` prints its wall and its Spark job count (read from
the call's job group) before the tier's query row.

State: by default the `pipeline` benchmark's inputs at `--seed`
(perfbench/inputs.py): a 100-doc `bulk_load`, a `cells` graph build,
two 30-doc `/submit` batches and `compact()` — 148 docs at seed 101.
`--src DIR` bulk-loads the `documents` table of a table directory
instead (for example the 10x corpus `scripts/scale_probe.py --factor
10 --keep` writes to /tmp/sf_scaled).

Usage:
    python3 scripts/bench_serving.py                 # pipeline inputs, seed 101
    python3 scripts/bench_serving.py --src /tmp/sf_scaled --queries 20

Run it on the parent checkout and on a change to compare.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from pyspark.sql import functions as F  # noqa: E402

SCHEMA = "doc_id bigint, text string, modality string"


def p50(fn, args, reps: int = 1) -> float:
    """Median wall of ``fn(a).collect()`` over ``args``, after one
    untimed call."""
    fn(args[0]).collect()
    walls = []
    for _ in range(reps):
        for a in args:
            t0 = time.perf_counter()
            fn(a).collect()
            walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def build(spark, pipe, args) -> list[str]:
    """Load the serving state; returns the query texts."""
    if args.src:
        from multi_model_vectorsearch_spark.sources.registry import (
            load_tables,
        )

        docs = load_tables(spark, args.src)["documents"].select(
            "doc_id", "text",
            F.element_at(F.array(F.lit("text"), F.lit("image"),
                                 F.lit("audio")),
                         (F.col("doc_id") % 3 + 1).cast("int"))
            .alias("modality"))
        pipe.bulk_load(docs)
        pipe.build_graph()
        rows = docs.orderBy("doc_id").limit(args.queries).collect()
        return [r.text for r in rows]
    from inputs import PipelineInputs

    inp = PipelineInputs(args.seed, 100, 30, 0.2)
    pipe.bulk_load(spark.createDataFrame(inp.corpus, SCHEMA))
    pipe.build_graph(method="cells")
    for c in range(2):
        pipe.process_batch(spark.createDataFrame(inp.batch(2).rows, SCHEMA),
                           c, key=f"s{c}")
    pipe.compact()
    return [q for q, _ in inp.queries(args.queries)]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--src", default=None,
                    help="table directory whose documents to bulk-load "
                         "(default: the pipeline benchmark's inputs)")
    ap.add_argument("--seed", type=int, default=101)
    ap.add_argument("--queries", type=int, default=40)
    ap.add_argument("--cores", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "4")))
    args = ap.parse_args()

    from multi_model_vectorsearch_spark import get_spark
    from multi_model_vectorsearch_spark.streaming import ingest

    spark = get_spark("bench-serving", master=f"local[{args.cores}]",
                      shuffle_partitions=args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    state = tempfile.mkdtemp(prefix="serving_bench_")
    try:
        pipe = ingest.IngestPipeline(spark, os.path.join(state, "st"),
                                     k=10, maintain_ivf=True,
                                     n_centroids=None)
        t0 = time.perf_counter()
        qs = build(spark, pipe, args)
        print(f"# state: {pipe.corpus().count()} docs, "
              f"{pipe.edges().count()} edges, "
              f"{time.perf_counter() - t0:.1f} s", flush=True)
        many = [qs[i:i + 8] for i in range(0, len(qs) - 7, 8)]

        def row(tag):
            out = {
                "search": p50(lambda q: pipe.search(q, k=10,
                                                    route="exact"), qs),
                "search_ivf": p50(lambda q: pipe.search_ivf(q, k=10), qs),
                "search_many": p50(lambda b: pipe.search_many(b, k=10),
                                   many),
            }
            print(f"{tag}: " + ", ".join(
                f"{k} p50 {v * 1e3:.2f} ms" for k, v in out.items()),
                flush=True)

        row("cold")
        sc = spark.sparkContext
        # a checkout without the driver tier warms once, Spark tier only
        budget = getattr(ingest, "DRIVER_TIER_BYTES", None)
        tiers = (("driver", budget), ("spark", 0)) if budget else (
            ("spark", None),)
        for tier, ceiling in tiers:
            if ceiling is not None:
                ingest.DRIVER_TIER_BYTES = ceiling
            pipe.unwarm()
            group = f"bench-serving-warm-{tier}"
            sc.setJobGroup(group, "warm()")
            t0 = time.perf_counter()
            try:
                sizes = pipe.warm()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            wall = time.perf_counter() - t0
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            print(f"# warm() {wall:.2f} s, {jobs} jobs, "
                  f"driver_bytes {sizes.get('driver_bytes', 0)}",
                  flush=True)
            row(f"warm {tier} tier")
        if budget:
            ingest.DRIVER_TIER_BYTES = budget
    finally:
        shutil.rmtree(state, ignore_errors=True)


if __name__ == "__main__":
    main()
