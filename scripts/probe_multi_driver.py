#!/usr/bin/env python3
"""Multi-driver scale-out probe (r10 verdict item 2).

BASELINE.md's serving recommendation — "cap in-flight near the ~9
QPS/driver plateau, scale by adding drivers over the same warm state" —
demonstrated for real: separate OS processes, each with its OWN
SparkSession (its own JVM, scheduler, and driver), all over ONE shared
state root.

Phase A (scale-out): build bulk state once, then run 1 and then 2
server processes concurrently, each serving warm probed ``search_ivf``
from client threads for a fixed wall window; report per-server and
combined QPS. The point: the ~9 QPS ceiling is the DRIVER's job-launch
path, not the state or the executors — a second driver over the same
parquet state adds its own ceiling's worth of throughput.

Phase B (reader across a writer's flips): one server process serves
warm queries and polls ``maybe_rewarm()`` while a separate WRITER
process ingests batches, forces an IVF re-train, and compacts — the
generation-pointer commit plus retention is exactly what makes the
reader's in-flight plans safe across the writer's flips. Contract
checked: zero failed queries, ≥1 re-warm observed, and the reader's
post-write query returns a doc the writer inserted (cross-process
freshness through the state root alone — no coordination channel).

Usage:
    python3 scripts/probe_multi_driver.py --factor 10
    python3 scripts/probe_multi_driver.py --factor 100 --seconds 45

Exit 0 iff phase B's contract held; emits one JSON document.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _docs_frame(spark, sf_dir):
    from pyspark.sql import functions as F

    from multi_model_vectorsearch_spark import load_tables

    return load_tables(spark, sf_dir)["documents"].select(
        "doc_id", "text",
        F.element_at(F.array(F.lit("text"), F.lit("image"), F.lit("audio")),
                     (F.col("doc_id") % 3 + 1).cast("int")).alias("modality"),
    )


def _mk_pipe(spark, state):
    from multi_model_vectorsearch_spark.streaming.ingest import IngestPipeline

    return IngestPipeline(spark, state, k=10, maintain_ivf=True,
                          n_centroids=None, max_collect=16384)


def _session(name, cpus):
    from multi_model_vectorsearch_spark import get_spark

    return get_spark(name, master=f"local[{cpus}]", shuffle_partitions=16,
                     fair_scheduler=True)


# --------------------------- worker: server ---------------------------------

def role_server(args) -> int:
    spark = _session(f"mdrv-server-{os.getpid()}", args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    pipe = _mk_pipe(spark, args.state)
    queries = json.loads(open(args.queries_file).read())
    t_warm0 = time.perf_counter()
    pipe.warm()
    warm_sec = time.perf_counter() - t_warm0

    stop = threading.Event()
    lock = threading.Lock()
    lats: list[float] = []
    errors: list[str] = []
    rewarms = [0]
    done_sentinel = os.path.join(args.state, "_WRITER_DONE")

    def client(cid: int):
        sc = spark.sparkContext
        sc.setLocalProperty("spark.scheduler.pool", f"serve-{cid}")
        j = cid
        while not stop.is_set():
            q = queries[j % len(queries)]
            j += 1
            t0 = time.perf_counter()
            try:
                if args.facade:
                    # the always-answers wrapper; cumulative retry/
                    # exhausted counters surface in the RESULT line
                    # (r12 verdict item 4 observability)
                    pipe.serve_search_ivf(q, k=10)
                else:
                    pipe.search_ivf(q, k=10).collect()
            except Exception as e:  # noqa: BLE001 - the probe's subject
                with lock:
                    errors.append(f"{type(e).__name__}: {e}")
                return
            with lock:
                lats.append(time.perf_counter() - t0)

    max_behind = [0, 0]  # (units, flips) peak staleness the gauge saw

    def rewarmer():
        # the freshness poll a long-lived serving driver runs on its own
        # cadence; cheap metadata check, full re-warm only on change.
        # The freshness() gauge (r11 verdict item 8) is what a deployment
        # alerts on — record its peak here; whether a re-warm ZEROES it
        # is asserted at QUIESCENCE after the writer finishes (a gauge
        # that reads behind right after a re-warm under an actively
        # committing writer is correct, not stuck).
        while not stop.is_set():
            try:
                g = pipe.freshness()
                max_behind[0] = max(max_behind[0], g["behind_units"])
                max_behind[1] = max(max_behind[1], g["behind_flips"])
                if pipe.maybe_rewarm():
                    rewarms[0] += 1
            except Exception as e:  # noqa: BLE001
                with lock:
                    errors.append(f"rewarm {type(e).__name__}: {e}")
            time.sleep(1.0)

    from pyspark import InheritableThread

    threads = [InheritableThread(target=client, args=(c,))
               for c in range(args.clients)]
    if args.rewarm:
        threads.append(InheritableThread(target=rewarmer))
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    deadline = t0 + args.seconds
    while time.perf_counter() < deadline:
        if args.wait_writer and os.path.exists(done_sentinel):
            time.sleep(3.0)  # a few queries against the final state
            break
        time.sleep(0.5)
    stop.set()
    for t in threads:
        t.join(timeout=180)
    wall = time.perf_counter() - t0

    fresh_hit = None
    final_gauge = None
    if args.fresh_text_file and os.path.exists(args.fresh_text_file):
        spec = json.loads(open(args.fresh_text_file).read())
        try:
            pipe.maybe_rewarm()
            rows = pipe.search_ivf(spec["text"], k=10).collect()
            fresh_hit = any(r.doc_id == spec["doc_id"] for r in rows)
            # quiescence assertion (r11 item 8): the writer is done, a
            # re-warm just ran — the gauge must read fresh/zero now, or
            # the gauge and the snapshot disagree
            final_gauge = pipe.freshness()
            if not final_gauge["fresh"]:
                errors.append(f"gauge non-fresh at quiescence: "
                              f"{final_gauge}")
        except Exception as e:  # noqa: BLE001
            errors.append(f"fresh {type(e).__name__}: {e}")
            fresh_hit = False

    lats.sort()
    out = {
        "role": "server", "pid": os.getpid(),
        "n_queries": len(lats), "failures": len(errors),
        "qps": round(len(lats) / wall, 2) if wall else 0.0,
        "p50": round(lats[len(lats) // 2], 3) if lats else None,
        "p95": round(lats[int(len(lats) * 0.95)], 3) if lats else None,
        "warm_sec": round(warm_sec, 2), "rewarms": rewarms[0],
        "max_behind_units": max_behind[0],
        "max_behind_flips": max_behind[1],
        "final_gauge": final_gauge,
        "fresh_hit": fresh_hit, "errors": errors[:3],
        # facade observability (shared pipeline object, so these are
        # the race-free cumulative counters, not per-call samples)
        "serve_counters": dict(pipe.serve_counters),
        "retries_per_query": round(
            pipe.serve_counters["retries"]
            / max(pipe.serve_counters["queries"], 1), 4),
    }
    print("RESULT " + json.dumps(out), flush=True)
    spark.stop()
    return 0 if not errors else 1


# --------------------------- worker: writer ---------------------------------

def role_writer(args) -> int:
    from pyspark.sql import functions as F

    spark = _session(f"mdrv-writer-{os.getpid()}", args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    pipe = _mk_pipe(spark, args.state)
    docs = _docs_frame(spark, args.sf_dir)
    base = pipe.corpus().agg(F.max("doc_id")).first()[0] or 0
    spec = json.loads(open(args.fresh_text_file).read())

    n0 = pipe.corpus().count()
    ncent0 = pipe.centroids().count()
    batches_done = 0
    for i in range(args.writer_batches):
        b = (docs.orderBy("doc_id").limit(args.writer_batch_rows)
             .withColumn("doc_id", F.col("doc_id") + F.lit(base + 1
                                                           + i * 10_000_000))
             .withColumn("text", F.concat(F.col("text"),
                                          F.lit(f" fresh-{i}"))))
        if i == 0:
            # the freshness marker doc the server must eventually see
            marker = spark.createDataFrame(
                [(spec["doc_id"], spec["text"], "text")],
                "doc_id bigint, text string, modality string")
            b = b.unionByName(marker)
        pipe.process_batch(b, i, key=f"w{i}")
        batches_done += 1
        print(f"writer: batch {i} committed", flush=True)
    if args.writer_retrain:
        # one fat replicated batch pushing the corpus past the 2x
        # centroid-target threshold, so the server's reads cross a REAL
        # re-train's two-root flip sequence (not just compact's)
        fat = (docs.crossJoin(spark.range(4).withColumnRenamed("id", "rep"))
               .select(
                   (F.col("doc_id") + F.lit(base + 500_000_000)
                    + F.col("rep") * 50_000_000).alias("doc_id"),
                   F.concat(F.col("text"),
                            F.lit(" rep"), F.col("rep")).alias("text"),
                   F.col("modality")))
        # backfill-shaped (no per-doc KNN edge build): the point is the
        # index re-train's flip sequence, not 4n x n edge scoring
        pipe.process_batch(fat, args.writer_batches, key="wfat",
                           build_edges=False)
        batches_done += 1
        print("writer: re-train batch committed", flush=True)
    compacted = pipe.compact()
    n1 = pipe.corpus().count()
    ncent1 = pipe.centroids().count()
    out = {"role": "writer", "batches": batches_done,
           "corpus_before": n0, "corpus_after": n1,
           "ncent_before": ncent0, "ncent_after": ncent1,
           "retrained": bool(ncent1 >= 2 * max(ncent0, 1) - 2),
           "compacted": compacted}
    print("RESULT " + json.dumps(out), flush=True)
    # sentinel LAST: servers read it as "the writer's sequence is over"
    open(os.path.join(args.state, "_WRITER_DONE"), "w").write("done")
    spark.stop()
    return 0


# --------------------------- orchestrator -----------------------------------

def _spawn(role: str, state: str, extra: list[str]) -> subprocess.Popen:
    cmd = [sys.executable, os.path.abspath(__file__), "--role", role,
           "--state", state] + extra
    return subprocess.Popen(cmd, stdout=subprocess.PIPE,
                            stderr=subprocess.DEVNULL, text=True)


def _collect(proc: subprocess.Popen, timeout: int) -> dict | None:
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        return None
    for line in reversed(out.splitlines()):
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    return None


def role_orchestrate(args) -> int:
    from scale_probe import synthesize

    spark = _session("mdrv-build", args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    if args.factor == 1:
        data_dir = args.sf_dir
    else:
        data_dir = f"/tmp/mdrv_f{args.factor}"
        if not os.path.isdir(data_dir):
            synthesize(spark, args.sf_dir, data_dir, args.factor,
                       pair_density="constant")
    work = tempfile.mkdtemp(prefix="mdrv_state_")
    state = os.path.join(work, "state")
    pipe = _mk_pipe(spark, state)
    docs = _docs_frame(spark, data_dir)
    t0 = time.perf_counter()
    pipe.bulk_load(docs)
    bulk_sec = round(time.perf_counter() - t0, 1)
    n = pipe.corpus().count()
    queries = [r.text for r in docs.orderBy("doc_id").limit(8).collect()]
    qfile = os.path.join(work, "queries.json")
    open(qfile, "w").write(json.dumps(queries))
    ffile = os.path.join(work, "fresh.json")
    open(ffile, "w").write(json.dumps(
        {"doc_id": 999_999_999,
         "text": "the freshness marker document for the multi driver probe"}))
    spark.stop()
    print(f"built state: {n} docs ({bulk_sec}s)", flush=True)

    common = ["--sf-dir", data_dir, "--cpus", str(args.worker_cpus),
              "--clients", str(args.clients), "--queries-file", qfile,
              "--seconds", str(args.seconds)]
    ladder = {}
    for n_servers in (1, 2):
        procs = [_spawn("server", state, common)
                 for _ in range(n_servers)]
        res = [_collect(p, args.seconds + 300) for p in procs]
        res = [r for r in res if r]
        ladder[n_servers] = {
            "per_server_qps": [r["qps"] for r in res],
            "combined_qps": round(sum(r["qps"] for r in res), 2),
            "p50": [r["p50"] for r in res],
            "p95": [r["p95"] for r in res],
            "failures": sum(r["failures"] for r in res),
        }
        print(f"phase A: {n_servers} server(s) -> {ladder[n_servers]}",
              flush=True)

    # phase B: reader across a concurrent writer's batches + re-train +
    # compact, in separate processes
    server = _spawn("server", state, common + [
        "--rewarm", "--wait-writer", "--facade",
        "--fresh-text-file", ffile,
        "--seconds", "1800"])  # sentinel-bounded; the cap is a backstop
    time.sleep(5)  # let the server warm before the writer starts flipping
    writer_extra = [
        "--sf-dir", data_dir, "--cpus", str(args.worker_cpus),
        "--fresh-text-file", ffile,
        "--writer-batches", str(args.writer_batches),
        "--writer-batch-rows", str(args.writer_batch_rows)]
    if args.writer_retrain:
        writer_extra.append("--writer-retrain")
    writer = _spawn("writer", state, writer_extra)
    wres = _collect(writer, 1800)
    sres = _collect(server, 1800)

    ok = bool(sres and wres and sres["failures"] == 0
              and sres["rewarms"] >= 1 and sres["fresh_hit"]
              and sres["n_queries"] > 0
              # healthy facade serving across the writer's flips, not
              # merely always-answering (r12 verdict item 4)
              and sres.get("serve_counters", {}).get("exhausted", 0) == 0
              and sres.get("retries_per_query", 0) <= 1.0)
    out = {
        "metric": "multi_driver",
        "factor": args.factor, "n_docs": n, "bulk_sec": bulk_sec,
        "clients_per_server": args.clients,
        "server_cpus": args.worker_cpus,
        "qps_ladder": ladder,
        "reader_while_writer": {"server": sres, "writer": wres},
        "contract_ok": ok,
    }
    print(json.dumps(out), flush=True)
    if not args.keep:
        shutil.rmtree(work, ignore_errors=True)
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--role", default="orchestrate",
                    choices=["orchestrate", "server", "writer"])
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--state")
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--clients", type=int, default=4)
    ap.add_argument("--cpus", type=int, default=12)
    ap.add_argument("--worker-cpus", type=int, default=12)
    ap.add_argument("--worker-mem", default="6g")
    ap.add_argument("--queries-file")
    ap.add_argument("--fresh-text-file")
    ap.add_argument("--rewarm", action="store_true")
    ap.add_argument("--facade", action="store_true",
                    help="server clients use serve_search_ivf (always-"
                         "answers retry wrapper); RESULT carries the "
                         "cumulative retry/exhausted counters and the "
                         "orchestrator gates on them")
    ap.add_argument("--wait-writer", action="store_true")
    ap.add_argument("--writer-batches", type=int, default=3)
    ap.add_argument("--writer-batch-rows", type=int, default=400)
    ap.add_argument("--writer-retrain", action="store_true", default=True)
    ap.add_argument("--no-writer-retrain", dest="writer_retrain",
                    action="store_false")
    ap.add_argument("--keep", action="store_true")
    args = ap.parse_args()
    if args.role in ("server", "writer"):
        # worker JVMs pin the warm corpus in storage memory (~200 MB per
        # 50k docs at dim 512); the 1g local-mode default thrashes the
        # cache and serves every query off disk. Must be set via
        # PYSPARK_SUBMIT_ARGS — local-mode driver memory is fixed at JVM
        # launch, programmatic SparkConf is too late.
        os.environ.setdefault(
            "PYSPARK_SUBMIT_ARGS",
            f"--driver-memory {args.worker_mem} pyspark-shell")
    if args.role == "server":
        return role_server(args)
    if args.role == "writer":
        return role_writer(args)
    return role_orchestrate(args)


if __name__ == "__main__":
    raise SystemExit(main())
