#!/usr/bin/env python3
"""Serve-during-mutate linearizability probe (r10 verdict item 1).

The reference interleaves ``/search`` and ``/submit`` freely (Redis
serializes every op). The engine's equivalent — ``search_ivf`` and
``search`` clients racing ``process_batch``, a forced IVF re-train, and
``compact()`` — is what this probe exercises, at a scale the unit test
can't afford, and it asserts the reader/writer contract exactly:

  - ZERO failed queries (no FileNotFound on a swept generation, no
    half-read batch, no torn centroid/assignment pair), and
  - every response equals the exact response over SOME committed-batch
    prefix of the writer's sequence (linearizable at batch granularity).

The valid-response set comes from a sequential twin run over the same
batch sequence: ``process_batch`` is deterministic (hash-ordered seeds,
snapped micro scores), so the twin's per-prefix responses are
byte-identical to what the live state serves at each boundary.

Usage:
    python3 scripts/probe_serve_during_mutate.py                 # defaults
    python3 scripts/probe_serve_during_mutate.py --docs 2000 --clients 4

Exit 0 iff the contract held; emits one JSON document either way.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark import InheritableThread  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from multi_model_vectorsearch_spark import get_spark, load_tables  # noqa: E402
from multi_model_vectorsearch_spark.streaming.ingest import (  # noqa: E402
    IngestPipeline,
)


def mod_docs(tables, lo, hi, n_table=None):
    """Docs with ids in [lo, hi), replicating the physical table with
    rep-suffixed texts when the range runs past it (the sf0.01 documents
    table holds only 500 rows — a probe asking for 1500 docs must not
    silently truncate and never hit its re-train threshold)."""
    docs = tables["documents"]
    if n_table is None:
        n_table = docs.count()
    frames = []
    for rep in range(lo // n_table, (hi - 1) // n_table + 1):
        a = max(lo - rep * n_table, 0)
        b = min(hi - rep * n_table, n_table)
        if b <= a:
            continue
        f = docs.filter((F.col("doc_id") >= a) & (F.col("doc_id") < b))
        text = (F.col("text") if rep == 0
                else F.concat(F.col("text"), F.lit(f" rep{rep}")))
        frames.append(f.select(
            (F.col("doc_id") + F.lit(rep * n_table)).alias("doc_id"),
            text.alias("text"),
            F.element_at(
                F.array(F.lit("text"), F.lit("image"), F.lit("audio")),
                (F.col("doc_id") % 3 + 1).cast("int"),
            ).alias("modality")))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def batch_bounds(n_docs: int, n_batches: int) -> list[tuple[int, int]]:
    """First batch = ~1/6 of the docs (bootstraps the index past
    ivf_bootstrap), last batch = ~55% (total reaches > 4x the bootstrap
    corpus, so sqrt-sizing crosses the 2x re-train threshold inside that
    batch), the rest split the middle evenly."""
    b0 = max(n_docs // 6, 80)
    blast = max(int(n_docs * 0.55), 32)
    mid = max(n_docs - b0 - blast, n_batches - 2)
    per = max(mid // max(n_batches - 2, 1), 1)
    bounds, lo = [(0, b0)], b0
    for _ in range(n_batches - 2):
        bounds.append((lo, min(lo + per, n_docs - blast)))
        lo = bounds[-1][1]
    bounds.append((lo, n_docs))
    return [(a, b) for a, b in bounds if b > a]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--docs", type=int, default=1500)
    ap.add_argument("--batches", type=int, default=5)
    ap.add_argument("--clients", type=int, default=3)
    ap.add_argument("--queries", type=int, default=3,
                    help="distinct query texts each client round-robins")
    # --- r12: the 100x / retention-SLA configuration -----------------
    ap.add_argument("--mode", choices=["submit", "bulk"], default="submit",
                    help="bulk = bulk_load batches (no per-doc edge "
                         "build), the affordable shape at 100x docs; "
                         "twin and live use identical keys")
    ap.add_argument("--flip-spam", type=int, default=0,
                    help="extra back-to-back compact() flips after every "
                         "writer batch — forces a cold reader's "
                         "seconds-long scan to span multiple generation "
                         "flips (the retention-SLA race)")
    ap.add_argument("--retain", type=int, default=1,
                    help="retain_generations for every pipeline")
    ap.add_argument("--facade", action="store_true",
                    help="readers use serve_search/serve_search_ivf "
                         "(re-plan + retry past swept scans) instead of "
                         "raw search — with it, failures are contract "
                         "violations; without it, failures at "
                         "retain < flips-per-scan DOCUMENT the SLA")
    ap.add_argument("--min-flip-interval", type=float, default=0.0,
                    help="writer-side flip-rate governor (r12 verdict "
                         "item 3): the LIVE writer spaces its flip "
                         "groups by at least this many seconds, so raw "
                         "readers at retain_generations=1 get a "
                         "guaranteed scan window — the a-priori remedy "
                         "for the --flip-spam SLA breach")
    args = ap.parse_args()

    spark = get_spark("probe-serve-during-mutate")
    spark.sparkContext.setLogLevel("ERROR")
    tables = load_tables(spark, args.sf_dir)
    work = tempfile.mkdtemp(prefix="serve_mutate_")

    bounds = batch_bounds(args.docs, args.batches)
    batches = [mod_docs(tables, lo, hi) for lo, hi in bounds]
    qtexts = [r.text for r in
              mod_docs(tables, 0, args.queries).orderBy("doc_id").collect()]

    def mk(tag, governed: bool = False):
        # only the LIVE writer is governed: readers never flip, and
        # gating the sequential twin would just slow the valid-set build
        return IngestPipeline(spark, os.path.join(work, tag), k=10,
                              maintain_ivf=True, n_centroids=None,
                              ivf_bootstrap=64,
                              retain_generations=args.retain,
                              min_flip_interval_s=(
                                  args.min_flip_interval if governed
                                  else 0.0))

    def ingest(pipe, b, i):
        if args.mode == "bulk":
            pipe.bulk_load(b, key=f"l{i}")  # same key twin & live
        else:
            pipe.process_batch(b, i)

    def flips(pipe):
        for _ in range(args.flip_spam):
            pipe.compact()

    def resp(pipe, q):
        # search_ivf = the probed serving route; search(route="auto") =
        # the full reference semantics incl. 1-hop expansion. Each is
        # ONE query with its own consistency bracket; the contract is
        # per-QUERY linearizability, so each endpoint's response is
        # validated independently (a batch may legitimately commit
        # between the two calls)
        if args.facade:
            ivf_rows = pipe.serve_search_ivf(q, k=10)
            full_rows = pipe.serve_search(q, k=10, route="auto")
        else:
            ivf_rows = pipe.search_ivf(q, k=10).collect()
            full_rows = pipe.search(q, k=10, route="auto").collect()
        ivf = tuple((r.doc_id, r.s) for r in ivf_rows)
        full = tuple(sorted(map(tuple, full_rows)))
        return ivf, full

    # ---- sequential twin: the valid-response set per prefix ----
    print(f"twin: {len(bounds)} batches over {args.docs} docs "
          f"{bounds}", flush=True)
    twin = mk("twin")
    valid: dict[str, set] = {q: set() for q in qtexts}
    t0 = time.perf_counter()
    for i, b in enumerate(batches):
        ingest(twin, b, i)
        flips(twin)
        for q in qtexts:
            valid[q].add(resp(twin, q))
    # a re-train flips the index generation; check BEFORE compact (which
    # also flips) so the signal is unambiguous
    retrained = twin._gen_num(twin.index_dir) >= 1
    twin.compact()
    for q in qtexts:
        valid[q].add(resp(twin, q))
    ncent_after = twin.centroids().count()
    twin_sec = time.perf_counter() - t0
    print(f"twin done in {twin_sec:.1f}s; centroids {ncent_after} "
          f"retrained={retrained}", flush=True)

    # ---- live run: clients serve while the writer mutates ----
    writer = mk("live", governed=True)
    ingest(writer, batches[0], 0)
    flips(writer)

    stop = threading.Event()
    lock = threading.Lock()
    results: list[tuple[str, tuple, float]] = []
    errors: list[str] = []
    retry_samples: list[int] = []   # facade retries per answered resp()
    stale_answers = [0]             # answers served from a behind snapshot

    def diag(reader):
        """Forensic state snapshot bracketing a query (probe-only)."""
        try:
            return {"epoch": reader._state_epoch(),
                    "torn": sorted(reader._torn_batch_keys()),
                    "corpus_ls": reader.fs.listdir(
                        reader._phys(reader.corpus_dir))[:40],
                    "ivf_ls": reader.fs.listdir(
                        reader._phys(reader.index_dir))[:40]}
        except Exception as e:  # noqa: BLE001
            return {"diag_err": str(e)}

    def serve(cid: int):
        sc = spark.sparkContext
        sc.setLocalProperty("spark.scheduler.pool", f"serve-{cid}")
        reader = mk("live")  # own pipeline object over the same root
        j = cid
        failures = 0
        while not stop.is_set():
            q = qtexts[j % len(qtexts)]
            j += 1
            t = time.perf_counter()
            d0 = diag(reader)
            r0 = reader.serve_counters["retries"]
            try:
                r = resp(reader, q)
            except Exception as e:  # noqa: BLE001 - the probe's subject
                with lock:
                    errors.append(f"{type(e).__name__}: {str(e)[:300]}")
                failures += 1
                if failures >= 50:  # runaway guard; keep serving otherwise
                    return
                continue
            d1 = diag(reader)
            info = reader.last_serve_info
            with lock:
                results.append((q, r, time.perf_counter() - t, d0, d1))
                if args.facade:
                    # per-reader pipeline object -> counters race-free;
                    # delta covers both serve calls inside resp()
                    retry_samples.append(
                        reader.serve_counters["retries"] - r0)
                    if info and not info["freshness"]["fresh"]:
                        stale_answers[0] += 1

    threads = [InheritableThread(target=serve, args=(c,))
               for c in range(args.clients)]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for i, b in enumerate(batches[1:], start=1):
        ingest(writer, b, i)
        flips(writer)
        print(f"  writer: batch {i} committed "
              f"(+{args.flip_spam} flips, {len(results)} responses so far)",
              flush=True)
    writer.compact()
    print(f"  writer: compacted ({len(results)} responses)", flush=True)
    time.sleep(3.0)
    stop.set()
    for t in threads:
        t.join(timeout=180)
    live_sec = time.perf_counter() - t0

    valid_ivf = {q: {v[0] for v in vs} for q, vs in valid.items()}
    valid_full = {q: {v[1] for v in vs} for q, vs in valid.items()}
    invalid = []
    for q, r, _lat, d0, d1 in results:
        bad_ivf = r[0] not in valid_ivf[q]
        bad_full = r[1] not in valid_full[q]
        if bad_ivf or bad_full:
            # forensics: which valid prefix is it closest to, per endpoint
            deltas = []
            for v in valid[q]:
                d_ivf = set(v[0]) ^ set(r[0])
                d_full = set(v[1]) ^ set(r[1])
                deltas.append((len(d_ivf) + len(d_full),
                               sorted(d_ivf)[:6], sorted(d_full)[:6]))
            deltas.sort(key=lambda x: x[0])
            invalid.append({"q": q[:40], "bad": ("ivf" if bad_ivf else "")
                            + ("+full" if bad_full else ""),
                            "nearest_delta": deltas[0],
                            "diag_before": d0, "diag_after": d1})
    lats = sorted(lat for _q, _r, lat, _d0, _d1 in results)
    distinct = len({(q, r) for q, r, _lat, _d0, _d1 in results})
    out = {
        "metric": "serve_during_mutate",
        "docs": args.docs, "batches": len(bounds),
        "mode": args.mode, "flip_spam": args.flip_spam,
        "retain": args.retain, "facade": bool(args.facade),
        "clients": args.clients, "retrained": bool(retrained),
        "responses": len(results), "distinct_responses": distinct,
        "failed_queries": len(errors),
        "nonlinearizable_responses": len(invalid),
        "p50_latency_sec": round(lats[len(lats) // 2], 3) if lats else None,
        "p95_latency_sec": round(
            lats[int(len(lats) * 0.95)], 3) if lats else None,
        "twin_sec": round(twin_sec, 1), "live_sec": round(live_sec, 1),
        "min_flip_interval": args.min_flip_interval,
        # facade observability (r12 verdict item 4): retries per
        # answered query (each sample spans resp()'s two serve calls)
        "retries_total": sum(retry_samples) if args.facade else None,
        "retries_p99": (sorted(retry_samples)[
            int((len(retry_samples) - 1) * 0.99)]
            if retry_samples else None),
        "stale_answers": stale_answers[0] if args.facade else None,
        "errors": errors[:5],
        "invalid_sample": [str(x)[:1600] for x in invalid[:3]],
    }
    print(json.dumps(out), flush=True)
    shutil.rmtree(work, ignore_errors=True)
    # raw mode at retain < flips-per-scan is EXPECTED to fail queries —
    # that is the SLA demonstration; the facade (and correctness) must
    # never fail, and no response may be non-linearizable in any mode
    ok = (not invalid and retrained
          and len(results) >= args.clients * 2
          and (not errors if args.facade else True)
          # healthy serving, not merely always-answering: at most one
          # retry at the 99th percentile across the facade's responses
          and ((out["retries_p99"] or 0) <= 1 if args.facade else True))
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
