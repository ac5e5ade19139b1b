#!/usr/bin/env python3
"""Chaos soak (r12 verdict item 8) — the composition test of everything
rounds 10-13 built separately, in one sustained run:

- a FENCED writer process ingesting on a loop (compact every 6 batches,
  operator ``retrain()`` every 12, flip-rate governor on);
- a KILLER: the writer's whole process group SIGKILLed mid-run (the
  crash-takeover drill), then a successor that ``acquire_writer()``s,
  replays the torn batches, and continues;
- a FENCE-OUT: a third writer acquiring mid-run — the running writer
  must raise WriterFencedError and stop loudly (exit 7), never
  interleave;
- 3 reader threads on the ``serve_*`` facade polling ``maybe_rewarm``,
  checked CONTINUOUSLY: zero failed queries, the self-match invariant
  (a committed doc's own text returns it at score 1.0 — prefix-
  independent, so valid under any committed state), response size <= k,
  freshness ``behind_flips <= retain_generations``, and facade retries
  p99 <= 1 (round-13 observability);
- a RocksDB-provider streaming window job run mid-soak, its result
  pinned to the batch twin.

Final sweep: a verification writer acquires the (by now thrice-handed)
lease, replays anything in flight at shutdown, compacts, and asserts
exactly-once corpus, hole-free distinct index assignments, empty torn
set, live centroids, and correct serving.

Usage:
    python3 scripts/probe_chaos_soak.py --seconds 300     # smoke
    python3 scripts/probe_chaos_soak.py --seconds 1800    # the soak

Exit 0 iff every invariant held; emits a JSON summary.
"""
from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import tempfile
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

STEP = 60  # docs per batch, every batch a distinct id range


def writer_main() -> int:
    """A fenced writer: ingest from ``start_batch`` until SIGTERM (clean
    stop between batches), SIGKILL (the killer — no cleanup runs), or a
    WriterFencedError (loud stop, exit 7)."""
    state, sf_dir, progress_path, owner, start_batch, pace = (
        sys.argv[2], sys.argv[3], sys.argv[4], sys.argv[5],
        int(sys.argv[6]), float(sys.argv[7]))

    prog = open(progress_path, "a", buffering=1)

    def note(line: str) -> None:
        prog.write(line + "\n")
        prog.flush()
        os.fsync(prog.fileno())

    stop = {"now": False}
    signal.signal(signal.SIGTERM, lambda *_: stop.update(now=True))

    from probe_serve_during_mutate import mod_docs

    from multi_model_vectorsearch_spark import get_spark, load_tables
    from multi_model_vectorsearch_spark.streaming.ingest import (
        IngestPipeline,
        WriterFencedError,
    )

    spark = get_spark(f"chaos-{owner}-{os.getpid()}", master="local[8]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    tables = load_tables(spark, sf_dir)
    n_table = tables["documents"].count()
    pipe = IngestPipeline(spark, state, k=6,
                          maintain_ivf=True, n_centroids=None,
                          ivf_bootstrap=64, retain_generations=4,
                          min_flip_interval_s=10.0)
    pipe.acquire_writer(owner=owner)
    note(f"ACQUIRED {owner} {os.getpid()}")
    i = start_batch
    try:
        while not stop["now"]:
            lo, hi = i * STEP, (i + 1) * STEP
            b = mod_docs(tables, lo, hi, n_table=n_table)
            note(f"START b{i} {lo} {hi}")
            pipe.process_batch(b, i)
            note(f"DONE b{i}")
            if i % 12 == 11:
                note(f"RETRAIN_START after b{i}")
                st = pipe.retrain()
                note(f"RETRAIN_DONE {st['n_centroids']}")
            elif i % 6 == 5:
                note(f"COMPACT_START after b{i}")
                pipe.compact()
                note("COMPACT_DONE")
            i += 1
            time.sleep(pace)
    except WriterFencedError as exc:
        note(f"FENCED {owner} {str(exc)[:120]}")
        spark.stop()
        return 7
    note(f"STOPPED {owner}")
    spark.stop()
    return 0


def spawn_writer(state, sf_dir, progress, owner, start_batch,
                 pace=1.0) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--writer",
         state, sf_dir, progress, owner, str(start_batch), str(pace)],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        start_new_session=True)


def read_progress(progress: str):
    lines = [ln.split() for ln in open(progress).read().splitlines()]
    started = {p[1]: (int(p[2]), int(p[3])) for p in lines
               if p and p[0] == "START"}
    done = {p[1] for p in lines if p and p[0] == "DONE"}
    return lines, started, done


def next_batch_idx(progress: str) -> int:
    _lines, started, done = read_progress(progress)
    idxs = sorted(int(k[1:]) for k in started)
    nxt = 0
    for i in idxs:
        if f"b{i}" in done and i == nxt:
            nxt = i + 1
    return nxt


def main() -> int:  # noqa: PLR0915 - one soak, inherently sequential
    if len(sys.argv) > 1 and sys.argv[1] == "--writer":
        return writer_main()

    ap = argparse.ArgumentParser()
    ap.add_argument("--seconds", type=int, default=300)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    ap.add_argument("--clients", type=int, default=3)
    ap.add_argument("--retain", type=int, default=4)
    args = ap.parse_args()

    from pyspark import InheritableThread
    from pyspark.sql import functions as F
    from probe_serve_during_mutate import mod_docs

    from multi_model_vectorsearch_spark import get_spark, load_tables
    from multi_model_vectorsearch_spark.operators import windows_batch as WB
    from multi_model_vectorsearch_spark.streaming import windows as SW
    from multi_model_vectorsearch_spark.streaming.ingest import IngestPipeline

    spark = get_spark("chaos-soak", master="local[16]",
                      shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    tables = load_tables(spark, args.sf_dir)
    n_table = tables["documents"].count()

    root = tempfile.mkdtemp(prefix="chaos_soak_")
    state = os.path.join(root, "state")
    progress = os.path.join(root, "progress.log")
    open(progress, "w").close()
    t_start = time.monotonic()
    deadline = t_start + args.seconds
    kill_at = t_start + args.seconds * 0.33
    fence_at = t_start + args.seconds * 0.66

    w1 = spawn_writer(state, args.sf_dir, progress, "w1", 0)
    while len(read_progress(progress)[2]) < 2:  # two committed batches
        time.sleep(1.0)
        if w1.poll() is not None:
            print(json.dumps({"metric": "chaos_soak", "ok": False,
                              "why": "w1 died during seeding"}))
            return 1

    # ---- readers: facade serving + warm polling, continuous checks ----
    qdocs = [r for r in mod_docs(tables, 0, STEP, n_table=n_table)
             .filter(F.col("modality") == "text")
             .orderBy("doc_id").limit(6).collect()]
    stop = threading.Event()
    lock = threading.Lock()
    stats = {"responses": 0, "failures": [], "bad_self": 0,
             "oversize": 0, "fresh_violations": 0, "rewarms": 0,
             "retry_samples": [], "stale_answers": 0, "warm_errors": []}

    def reader(cid: int):
        sc = spark.sparkContext
        sc.setLocalProperty("spark.scheduler.pool", f"chaos-{cid}")
        pipe = IngestPipeline(spark, state, k=6,
                              maintain_ivf=True, n_centroids=None,
                              ivf_bootstrap=64,
                              retain_generations=args.retain)
        j = cid
        while not stop.is_set():
            d = qdocs[j % len(qdocs)]
            j += 1
            if j % 7 == 0:
                # warm-poll errors are NOT query failures: a poll racing
                # a flip degrades this reader to cold serving (unwarm)
                # and the facade still answers — counted separately
                try:
                    if pipe._warm:
                        if pipe.maybe_rewarm():
                            with lock:
                                stats["rewarms"] += 1
                    else:
                        pipe.warm()
                except Exception as e:  # noqa: BLE001
                    pipe.unwarm()
                    with lock:
                        stats["warm_errors"].append(
                            f"{type(e).__name__}: {str(e)[:120]}")
            try:
                r0 = pipe.serve_counters["retries"]
                rows = (pipe.serve_search_ivf(d.text, k=6)
                        if j % 2 else pipe.serve_search(d.text, k=6))
                g = pipe.freshness()
                info = pipe.last_serve_info
            except Exception as e:  # noqa: BLE001 - the probe's subject
                with lock:
                    stats["failures"].append(
                        f"{type(e).__name__}: {str(e)[:200]}")
                continue
            with lock:
                stats["responses"] += 1
                stats["retry_samples"].append(
                    pipe.serve_counters["retries"] - r0)
                if info and not info["freshness"]["fresh"]:
                    stats["stale_answers"] += 1
                top = rows[0] if rows else None
                tid = getattr(top, "id", getattr(top, "doc_id", None)) \
                    if top else None
                tscore = getattr(top, "score", getattr(top, "s", None)) \
                    if top else None
                if tid != d.doc_id or tscore != 1.0:
                    stats["bad_self"] += 1
                if len(rows) > 6:
                    stats["oversize"] += 1
                if g["behind_flips"] > args.retain:
                    stats["fresh_violations"] += 1
        pipe.unwarm()

    threads = [InheritableThread(target=reader, args=(c,))
               for c in range(args.clients)]
    for t in threads:
        t.start()

    # ---- streaming under RocksDB, mid-soak ----
    stream_result = {}

    def stream_job():
        replay = os.path.join(root, "events_replay")
        SW.write_replay_dir(spark, args.sf_dir, replay, n_files=6)
        with SW.state_store_provider(spark, SW.ROCKSDB_PROVIDER):
            stream = SW.tumbling_stream(SW.read_event_stream(spark, replay))
            SW.run_to_memory(stream, "chaos_tumbling")
        got = sorted(map(tuple, spark.table("chaos_tumbling").collect()))
        # the replay dir was written FROM the normalized events table,
        # so the batch twin reads it back directly (full row equality —
        # the stream==batch contract, exercised here under RocksDB WHILE
        # the ingest chaos runs on the same session)
        want = sorted(map(tuple, WB.dq36_tumbling(
            {"events": spark.read.parquet(replay)}).collect()))
        stream_result.update(rows=len(got), batch_rows=len(want),
                             ok=got == want)

    stream_thread = threading.Thread(target=stream_job, daemon=True)

    # ---- chaos timeline ----
    events = []
    killed_rc = fenced_rc = None
    w2 = w3 = None
    stream_started = False
    while time.monotonic() < deadline:
        time.sleep(2.0)
        now = time.monotonic()
        if w1 is not None and now >= kill_at:
            os.killpg(os.getpgid(w1.pid), signal.SIGKILL)
            w1.wait()
            killed_rc = w1.returncode
            events.append(f"killed w1 rc={killed_rc} "
                          f"at +{round(now - t_start)}s")
            w2 = spawn_writer(state, args.sf_dir, progress, "w2",
                              next_batch_idx(progress))
            w1 = None
        if not stream_started and now >= kill_at + 10:
            stream_thread.start()
            stream_started = True
        if w2 is not None and w3 is None and now >= fence_at:
            done_before_fence = len(read_progress(progress)[2])
            w3 = spawn_writer(state, args.sf_dir, progress, "w3",
                              next_batch_idx(progress) + 50)
            # w3 starts 50 indexes ahead so the two writers' in-flight
            # batch keys can never collide while w2 drains to its fence
            events.append(f"spawned w3 at +{round(now - t_start)}s "
                          f"(done={done_before_fence})")
    stop.set()

    if w2 is not None:
        try:
            fenced_rc = w2.wait(timeout=240)
        except subprocess.TimeoutExpired:
            os.killpg(os.getpgid(w2.pid), signal.SIGKILL)
            fenced_rc = "timeout"
    if w3 is not None:
        os.kill(w3.pid, signal.SIGTERM)
        try:
            w3_rc = w3.wait(timeout=240)
        except subprocess.TimeoutExpired:
            os.killpg(os.getpgid(w3.pid), signal.SIGKILL)
            w3_rc = "timeout"
    else:
        w3_rc = None
    for t in threads:
        t.join(timeout=180)
    if stream_started:
        stream_thread.join(timeout=300)

    lines, started, done = read_progress(progress)
    fenced_line = any(p and p[0] == "FENCED" for p in lines)

    # ---- final sweep: verification writer heals and asserts ----
    ver = IngestPipeline(spark, state, k=6,
                         maintain_ivf=True, n_centroids=None,
                         ivf_bootstrap=64, retain_generations=args.retain)
    ver.acquire_writer(owner="verifier")
    replayed = []
    for key, (lo, hi) in sorted(started.items()):
        if key in done:
            continue
        b = mod_docs(tables, lo, hi, n_table=n_table)
        ver.process_batch(b, int(key[1:]))
        replayed.append(key)
    ver.compact()
    planned = len(done) + len(replayed)
    corpus = ver.corpus()
    n = corpus.count()
    n_distinct = corpus.select("doc_id").distinct().count()
    idx = ver.ivf_index()
    idx_n, idx_d = idx.count(), idx.select("doc_id").distinct().count()
    holes = corpus.join(idx.select("doc_id"), "doc_id", "left_anti").count()
    torn = sorted(ver.torn_batch_keys())
    d0 = qdocs[0]
    rows = ver.serve_search(d0.text, k=6)
    serves = bool(rows) and rows[0].id == d0.doc_id and rows[0].score == 1.0

    rs = sorted(stats["retry_samples"])
    p99 = rs[int((len(rs) - 1) * 0.99)] if rs else None
    out = {
        "metric": "chaos_soak", "seconds": args.seconds,
        "batches_done": len(done), "replayed_at_end": replayed,
        "w1_killed_rc": killed_rc, "w2_fenced_rc": fenced_rc,
        "w2_fenced_line": fenced_line, "w3_rc": w3_rc,
        "responses": stats["responses"],
        "failed_queries": len(stats["failures"]),
        "bad_self_matches": stats["bad_self"],
        "oversize_responses": stats["oversize"],
        "freshness_violations": stats["fresh_violations"],
        "rewarms": stats["rewarms"],
        "warm_errors": stats["warm_errors"][:5],
        "n_warm_errors": len(stats["warm_errors"]),
        "stale_answers": stats["stale_answers"],
        "retries_p99": p99,
        "stream": stream_result,
        "corpus_rows": n, "planned_rows": planned * STEP,
        "distinct_ok": n == n_distinct,
        "index_rows": idx_n, "index_distinct_ok": idx_n == idx_d,
        "index_holes": holes, "torn_final": torn,
        "serves": serves, "events": events,
        "errors_sample": stats["failures"][:5],
    }
    print(json.dumps(out), flush=True)
    ok = (killed_rc == -signal.SIGKILL and fenced_rc == 7 and fenced_line
          and w3_rc == 0
          and stats["responses"] >= args.clients * 5
          and not stats["failures"] and stats["bad_self"] == 0
          and stats["oversize"] == 0 and stats["fresh_violations"] == 0
          and (p99 or 0) <= 1
          and stream_result.get("ok") is True
          and n == planned * STEP and n == n_distinct
          and idx_n == n and idx_n == idx_d and holes == 0
          and not torn and serves)
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
