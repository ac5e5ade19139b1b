#!/usr/bin/env python3
"""Crash-TAKEOVER drill for the fenced writer (r12 verdict item 1).

``probe_writer_fence.py`` proves the USURPATION direction (a live writer
fenced by a newer one). This probe proves the operational twin —
RECOVERY: writer A is SIGKILLed (whole process group: Python driver AND
its Spark JVM, the container-death crash model) at randomized points
inside ``process_batch`` / ``compact`` / ``_retrain``, then writer B
``acquire_writer()``s the same root, heals the torn state (torn-batch
replay by key, ``_finish_pending_retrain`` roll-forward, index-hole
healing via ``compact()``), and continues ingesting. The reference
cannot even express this failure — Redis serializes every op in one
process (SURVEY §3.1 boundary #2); the engine must survive it.

Kill points per trial (injected in the child, all ending in
``os.killpg(..., SIGKILL)`` so nothing runs a finally block):

- ``time:<ms>``   — wall-clock timer armed after the first committed
                    batch; lands anywhere in process_batch (embed, KNN,
                    mid-parquet-job — the randomized arm);
- ``swap:<n>``    — immediately BEFORE the n-th ``_swap_dir`` body runs
                    (staged builds exist, flip not yet published;
                    ``swap:2`` lands in the re-train/compact seam
                    between two flips — THE non-atomic window);
- ``write_text:<n>`` — immediately before the n-th small-object write
                    after lease acquisition (``_CURRENT`` flips, marker
                    writes — mid-publish crash).

Both writers publish through the generation-pointer commit, the one
commit protocol the pipeline has on every backend.

Per-trial invariants after B's takeover + heal + continuation:
every planned doc exactly once (corpus count == distinct == planned),
no torn keys, index holes healed (assignment rows == corpus rows, all
distinct), centroids live, and a search over the final state answers
with the self-match pinned at 1.0.

Exit 0 iff every trial holds; emits one JSON line per trial + summary.
"""
from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

STEP = 40            # docs per batch
CHILD_BATCHES = 6    # child's plan (it is killed before finishing)
COMPACT_EVERY = 2    # child compacts after batches 1, 3, 5 (0-indexed)


def child_main() -> int:
    """Writer A: acquire the lease, ingest per plan, die at the kill
    spec. Progress (START/DONE per key) streams to the progress file so
    the parent knows exactly what was in flight at death."""
    state, sf_dir, progress_path, kill_spec = sys.argv[2:6]

    prog = open(progress_path, "a", buffering=1)

    def note(line: str) -> None:
        prog.write(line + "\n")
        prog.flush()
        os.fsync(prog.fileno())

    def die_now() -> None:
        note("KILLING")
        os.killpg(os.getpgid(0), signal.SIGKILL)  # python + JVM, no cleanup

    from pyspark.sql import functions as F

    from multi_model_vectorsearch_spark import get_spark, load_tables
    from multi_model_vectorsearch_spark.streaming.ingest import IngestPipeline

    spark = get_spark(f"takeover-a-{os.getpid()}", master="local[8]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_tables(spark, sf_dir)["documents"].select(
        "doc_id", "text", F.lit("text").alias("modality"))
    pipe = IngestPipeline(spark, state, k=4, maintain_ivf=True,
                          n_centroids=None, ivf_bootstrap=16)
    pipe.acquire_writer(owner="writer-a")
    note(f"ACQUIRED {os.getpid()}")

    mode, _, arg = kill_spec.partition(":")
    n_arg = int(arg)
    if mode == "swap":
        real_swap = pipe._swap_dir
        calls = {"n": 0}

        def killing_swap(live, nxt):
            calls["n"] += 1
            if calls["n"] == n_arg:
                die_now()
            return real_swap(live, nxt)

        pipe._swap_dir = killing_swap
    elif mode == "write_text":
        real_wt = pipe.fs.write_text
        calls = {"n": 0}

        def killing_wt(path, text):
            calls["n"] += 1
            if calls["n"] == n_arg:
                die_now()
            return real_wt(path, text)

        pipe.fs.write_text = killing_wt
    elif mode != "time":
        raise ValueError(f"unknown kill spec {kill_spec!r}")

    for i in range(CHILD_BATCHES):
        lo, hi = i * STEP, (i + 1) * STEP
        b = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        note(f"START b{i} {lo} {hi}")
        pipe.process_batch(b, i)
        note(f"DONE b{i}")
        if mode == "time" and i == 0:
            import threading

            threading.Timer(n_arg / 1000.0, die_now).start()
            note(f"TIMER {n_arg}")
        if i % COMPACT_EVERY == 1:
            note(f"COMPACT_START after b{i}")
            pipe.compact()
            note("COMPACT_DONE")
    note("CLEAN_EXIT")  # kill spec never fired — trial is invalid
    spark.stop()
    return 0


def run_trial(spark, docs, sf_dir: str, kill_spec: str) -> dict:
    from pyspark.sql import functions as F

    from multi_model_vectorsearch_spark.streaming.ingest import IngestPipeline

    root = tempfile.mkdtemp(prefix="takeover_")
    state = os.path.join(root, "state")
    progress = os.path.join(root, "progress.log")
    open(progress, "w").close()

    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--child",
         state, sf_dir, progress, kill_spec],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        start_new_session=True)  # own process group: killpg-able
    try:
        child.wait(timeout=600)
    except subprocess.TimeoutExpired:
        os.killpg(os.getpgid(child.pid), signal.SIGKILL)
        child.wait()

    lines = [ln.split() for ln in open(progress).read().splitlines()]
    started = {p[1]: (int(p[2]), int(p[3])) for p in lines
               if p and p[0] == "START"}
    done = {p[1] for p in lines if p and p[0] == "DONE"}
    clean_exit = any(p and p[0] == "CLEAN_EXIT" for p in lines)
    killed = child.returncode == -signal.SIGKILL

    trial = {"kill_spec": kill_spec,
             "killed": killed, "clean_exit": clean_exit,
             "batches_started": len(started), "batches_done": len(done)}
    if clean_exit or not killed or not started:
        trial["ok"] = False
        trial["why"] = "kill never landed mid-run"
        return trial

    # --- writer B: take over, heal, continue -----------------------------
    b = IngestPipeline(spark, state, k=4, maintain_ivf=True,
                       n_centroids=None, ivf_bootstrap=16)
    b.acquire_writer(owner="writer-b")
    torn_at_takeover = sorted(b.torn_batch_keys())

    # replay every batch whose DONE record is missing (covers torn keys
    # — replay is idempotent per key) and every planned batch A never
    # reached; then keep ingesting past A's plan
    replayed, continued = [], []
    for i in range(CHILD_BATCHES + 2):
        key = f"b{i}"
        lo, hi = i * STEP, (i + 1) * STEP
        if key in done:
            continue
        batch = docs.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        b.process_batch(batch, i)
        (replayed if key in started else continued).append(key)
    heal = b.compact()  # roll-forward + fold + index-hole heal

    # --- invariants -------------------------------------------------------
    planned = (CHILD_BATCHES + 2) * STEP
    corpus = b.corpus()
    n = corpus.count()
    n_distinct = corpus.select("doc_id").distinct().count()
    idx = b.ivf_index()
    idx_n = idx.count()
    idx_distinct = idx.select("doc_id").distinct().count()
    holes = corpus.join(idx.select("doc_id"), "doc_id", "left_anti").count()
    torn_final = sorted(b.torn_batch_keys())
    cents_live = not b.centroids().isEmpty()
    q = docs.filter(F.col("doc_id") == 1).first()
    rows = b.serve_search(q.text, k=4)
    serves = bool(rows) and rows[0].id == 1 and rows[0].score == 1.0

    trial.update({
        "torn_at_takeover": torn_at_takeover,
        "replayed": replayed, "continued": continued, "heal": heal,
        "corpus_rows": n, "planned_rows": planned,
        "distinct_ok": n == n_distinct,
        "index_rows": idx_n, "index_distinct_ok": idx_n == idx_distinct,
        "index_holes": holes, "torn_final": torn_final,
        "centroids_live": cents_live, "serves": serves,
    })
    trial["ok"] = bool(
        killed and not clean_exit
        and n == planned and n == n_distinct
        and idx_n == n and idx_n == idx_distinct and holes == 0
        and not torn_final and cents_live and serves)
    return trial


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        return child_main()

    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("specs", nargs="*", help="kill specs (default: the "
                    "measured battery)")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    if args.specs:
        specs = args.specs
    else:
        specs = [
            # measured landings with this plan (6x40-doc batches, compact
            # after b1/b3/b5, auto-IVF re-train at b3): swaps 1-3 = first
            # compact's store flips, 4-5 = the re-train's paired index +
            # centroid flips, 6-8 = second compact
            "time:2500",      # mid-process_batch, randomized landing
            "time:6500",      # a later randomized landing (often mid-KNN)
            "swap:1",         # compact: staged fold built, before first flip
            "swap:2",         # compact: between two stores' flips
            "swap:4",         # re-train: staged pair built, before index flip
            "swap:5",         # re-train: THE seam between index and centroid
                              # flips (roll-forward territory)
            "write_text:3",   # mid-publish small-object write
        ]

    from pyspark.sql import functions as F  # noqa: F401

    from multi_model_vectorsearch_spark import get_spark, load_tables

    spark = get_spark("takeover-verify", master="local[8]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_tables(spark, sf_dir)["documents"].select(
        "doc_id", "text", F.lit("text").alias("modality"))

    trials = []
    for spec in specs:
        t0 = time.monotonic()
        t = run_trial(spark, docs, sf_dir, spec)
        t["secs"] = round(time.monotonic() - t0, 1)
        trials.append(t)
        print(json.dumps(t), flush=True)

    ok = all(t["ok"] for t in trials)
    print(json.dumps({"metric": "writer_takeover",
                      "trials": len(trials),
                      "ok_trials": sum(t["ok"] for t in trials),
                      "ok": ok}), flush=True)
    spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
