#!/usr/bin/env python3
"""Benchmark harness: runs the declared-query suite and prints ONE JSON line.

Env knobs: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_SPLIT_FILES (default 32;
0/1 disables the split-fixture rewrite).

Each query is materialized through the no-op sink (spark.write.format("noop"))
so timings measure plan execution, not driver-side result transfer.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from multi_model_vectorsearch_spark import dq, get_spark, load_tables  # noqa: E402

# The result line is parsed from the last 2,000 characters of stdout; a
# longer line loses its head and fails the parse.
RESULT_LINE_MAX = 2000


def result_line(line: dict) -> str:
    """``line`` as the one-line JSON result. Raises when it would not fit
    in ``RESULT_LINE_MAX`` characters, since the printed key set only
    grows and a clipped line fails the parse without saying why."""
    out = json.dumps(line, separators=(",", ":"))
    if len(out) >= RESULT_LINE_MAX:
        raise ValueError(
            f"result line is {len(out)} characters; it must stay under "
            f"{RESULT_LINE_MAX} to survive the stdout capture: trim the "
            "printed key set (every timing is in bench_full.json)")
    return out


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def prepare_split_fixture(spark, sf_dir: str, n_files: int) -> str:
    """Rewrite the single-file testdata tables as ``n_files``-file parquet
    in a bench-local dir so scans actually split (round-5 verdict item 7:
    the driver fixtures are one file / one row group per table, which
    serializes every scan's pre-shuffle work on one core and makes the
    per-entry numbers pay a layout ceiling instead of plan cost — at
    100 TB no table is one row group). Rows are identical; only the file
    layout changes. Events are written through the load_tables ts
    normalization (µs instant type), which load_tables passes through
    unchanged on re-read. Prep cost is NOT part of any timing.
    """
    import hashlib
    import tempfile

    tag = hashlib.sha256(
        f"{os.path.abspath(sf_dir)}:{n_files}".encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"spark_graft_split_{tag}")
    marker = os.path.join(out, "_SPLIT_READY")
    if os.path.exists(marker):
        return out
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        if name == "embeddings":
            # load_tables derives modality from label on every read —
            # persisting it would duplicate the column on re-read
            df = df.drop("modality")
        df.repartition(n_files).write.mode("overwrite").parquet(
            os.path.join(out, f"{name}.parquet"))
    with open(marker, "w") as fh:
        fh.write("ok")
    return out


def bench_e2e_ingest(spark, tables, n_batches: int = 4) -> float:
    """Sec/micro-batch for the `/submit`-analog pipeline (BASELINE.md e2e row).

    Replays `documents` as micro-batches through IngestPipeline
    (embed-stub -> sha256 dedup -> corpus append -> KNN -> edge append)
    against fresh parquet state.

    ISOLATED-WARM methodology (r11 verdict item 4): this row measures
    embed-UDF + KNN-kernel memory bandwidth, which diverges from the
    scan-bound suite median that host calibration is computed on — a
    whole-run mean had the row crying wolf for three consecutive rounds
    of host-class forensics (anchor 1.667 vs 2-6.5 s raw readings, each
    A/B-exonerated). Now: one untimed warmup batch compiles the plans,
    the FIRST stateful batch is timed but DISCARDED (cold state: empty
    corpus, first parquet listing), and the reported value is the MEDIAN
    of the remaining per-batch walls — a steady-state number a quiet and
    a loaded host agree on far better than the mean of a cold sequence.
    """
    import shutil
    import statistics
    import tempfile

    from pyspark.sql import functions as F

    from multi_model_vectorsearch_spark.streaming.ingest import IngestPipeline

    docs = tables["documents"].select(
        "doc_id", "text", (F.col("doc_id") % 3).cast("int").alias("m")
    ).select(
        "doc_id", "text",
        F.element_at(
            F.array(F.lit("text"), F.lit("image"), F.lit("audio")),
            F.col("m") + 1,
        ).alias("modality"),
    ).localCheckpoint(eager=True)

    warm_dir = tempfile.mkdtemp(prefix="bench_ingest_warm_")
    state_dir = tempfile.mkdtemp(prefix="bench_ingest_")
    try:
        # untimed warmup batch against throwaway state: compiles the
        # pipeline's plans (embed UDF, kernel, writes) so the timed batches
        # measure steady-state ingest, consistent with the suite warmup
        IngestPipeline(spark, warm_dir).process_batch(docs.limit(64), 0)
        pipe = IngestPipeline(spark, state_dir)
        walls = []
        for b in range(n_batches):
            batch = docs.filter(F.col("doc_id") % n_batches == b)
            t0 = time.perf_counter()
            pipe.process_batch(batch, b)
            walls.append(time.perf_counter() - t0)
        # batch 0 is the cold-state outlier; the median of the warm
        # batches is the steady-state per-batch cost
        return round(statistics.median(walls[1:]), 3)
    finally:
        shutil.rmtree(warm_dir, ignore_errors=True)
        shutil.rmtree(state_dir, ignore_errors=True)


def wait_for_quiet_host(threshold: float | None = None,
                        max_wait: float | None = None) -> float:
    """Gate the timed suite on host load (r11 verdict item 5): the
    per-round driver bench has repeatedly been taken while the test
    suite drained (load avg ~7 → a uniform 1.1-1.4x inflation across
    unrelated entries), making the round artifact diverge from the
    committed quiet-host evidence. Poll the 1-min load average until it
    drops below the gate or the wait budget runs out — then measure.
    Returns the load at the moment measurement starts. Knobs:
    SPARK_GRAFT_LOAD_GATE (default 1.5; 0 disables) and
    SPARK_GRAFT_LOAD_WAIT (default 900 s).

    The default gate is 1.5 (r13 verdict item 4): the r13 driver
    artifact was taken at load 2.93 — UNDER the old 4.0 gate — and
    tripped 18 entries of the repo's own bench_compare while the
    committed quiet-host reading (load 0.71) passed 238/238. Loads
    above ~1.5 on this 32-core host have empirically meant a roaming
    hypervisor stall window, not legitimate concurrency, so the gate
    now refuses them for the full wait budget; if the budget runs out
    the suite still runs (the driver must get SOME artifact) but the
    emitted line self-labels via ``stalled_host`` + ``calibration`` so
    no reader mistakes it for the committed evidence."""
    if threshold is None:
        threshold = float(os.environ.get("SPARK_GRAFT_LOAD_GATE", "1.5"))
    if max_wait is None:
        max_wait = float(os.environ.get("SPARK_GRAFT_LOAD_WAIT", "900"))
    if threshold <= 0:
        return os.getloadavg()[0]
    deadline = time.monotonic() + max_wait
    load = os.getloadavg()[0]
    while load > threshold and time.monotonic() < deadline:
        print(f"[bench] host load {load:.1f} > gate {threshold:.1f}; "
              "waiting for quiet host", file=sys.stderr)
        time.sleep(15)
        load = os.getloadavg()[0]
    return load


def stall_labels(total: float, timings: dict, cache_builders,
                 anchor: dict | None, load_at_start: float,
                 gate: float) -> dict:
    """Self-labelling fields for the bench artifact (r13 verdict item
    4): a run the quiet-host gate could not protect (load still above
    the gate when the wait budget ran out) must be readable AS stalled
    without forensics. Emits:

    - ``stalled_host``: True iff the timed suite started above the gate
      (the r13 tell was ``load: 2.93`` needing manual adjudication).
    - ``calibration``: the suite-median current/anchor ratio over
      comparable (non-cache-builder) entries — the same statistic
      scripts/bench_compare.py normalizes by, so artifact and bound
      agree by construction.
    - ``calibrated_total_sec``: total / calibration — the number a
      quiet host would have measured, directly comparable round over
      round even when the raw total is stall-inflated.

    Returns {} fields it cannot compute (no anchor, no overlap) rather
    than guessing."""
    out: dict = {"load": round(load_at_start, 2),
                 "stalled_host": bool(gate > 0 and load_at_start > gate)}
    if not anchor:
        return out
    try:
        sys.path.insert(0, os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "scripts"))
        from bench_compare import compare

        report = compare(anchor, {
            "queries": timings, "cache_builders": sorted(cache_builders)})
        cal = report["calibration_median_ratio"]
        out["calibration"] = cal
        if cal > 0:
            out["calibrated_total_sec"] = round(total / cal, 3)
    except Exception:
        pass
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    load_gate = float(os.environ.get("SPARK_GRAFT_LOAD_GATE", "1.5"))
    load_at_start = wait_for_quiet_host(threshold=load_gate)
    spark = get_spark("bench")
    n_split = int(os.environ.get("SPARK_GRAFT_SPLIT_FILES", "32"))
    if n_split > 1:
        sf_dir = prepare_split_fixture(spark, sf_dir, n_split)
    tables = load_tables(spark, sf_dir)

    registry = dq.registry()
    # Warm up JVM JIT + parquet footer caches on one cheap representative of
    # each operator family (scan, join+agg, window, explode+agg, vector,
    # graph) — not timed. Without this, whichever heavy queries happen to
    # run first absorb the whole-stage-codegen compile cost and the suite
    # total depends on registry order instead of plan quality.
    by_name = {e.name: e for e in registry}
    for w in ["dq01_scan_project", "dq04_join_broadcast", "dq15_topk_per_group",
              "dq26_tokenize_explode", "dq29_knn_topk", "dq33_build_edges",
              "dq75_window_battery", "dq76_nullsafe_join", "dq06_left_semi",
              "dq07_left_anti", "dq52_centroid_applyinpandas",
              "dq48_embed_stub"]:
        if w in by_name:
            materialize(by_name[w].builder(tables))

    from multi_model_vectorsearch_spark.operators.textpipe import (
        session_cache_len,
    )

    timings: dict[str, float] = {}
    cache_builders: set[str] = set()
    for entry in registry:
        n_cached = session_cache_len()
        t0 = time.perf_counter()
        materialize(entry.builder(tables))
        timings[entry.name] = round(time.perf_counter() - t0, 3)
        if session_cache_len() > n_cached:
            # first derivation of a shared (persisted) intermediate happened
            # inside this timing — a re-run would ride the warm cache and
            # silently under-report the entry, so it is retry-ineligible
            cache_builders.add(entry.name)

    # Transient-stall guard: the build host's CPU allocation can collapse
    # for minutes at a time (observed: a 0.2 s JSON-extract query measured
    # 159 s while the host was stalled). A query that measured far above
    # the suite median is re-measured once and the minimum kept — re-runs
    # reflect plan cost, not whichever entry a host stall happened to land
    # on. Retries are capped so a genuinely slow suite still terminates.
    # threshold is deliberately extreme (>=8 s, >=20x median): the
    # heaviest legitimate entries run ~5-8 s, so only stall victims
    # retry — a retry also rides the session caches, so sweeping real
    # entries into it would undercount shared-pipeline build cost
    med = sorted(timings.values())[len(timings) // 2]
    suspects = sorted(
        (n for n, v in timings.items()
         if v > max(8.0, 20 * med) and n not in cache_builders),
        key=lambda n: -timings[n],
    )[:20]
    retries: dict[str, dict[str, float]] = {}
    for name in suspects:
        entry = next(e for e in registry if e.name == name)
        n_cached = session_cache_len()
        t0 = time.perf_counter()
        materialize(entry.builder(tables))
        retry = round(time.perf_counter() - t0, 3)
        if session_cache_len() > n_cached:
            # the retry itself built (and now rides) a fresh shared cache —
            # using it would understate the entry; keep the first timing
            continue
        # Symmetric policy (r12 advice, same as the e2e row): the retry
        # is a fresh sample not conditioned on being extreme, so it IS
        # the steady-state estimate — keep it, not the min. Only when
        # the retry ALSO breaches the stall trigger (both samples in
        # stall windows) does the min stand in, flagged. Both readings
        # go to bench_full.json either way.
        both = retry > max(8.0, 20 * med)
        retries[name] = {"first": timings[name], "retry": retry,
                         "stalled": True, "both_stalled": both}
        timings[name] = min(timings[name], retry) if both else retry

    # Anchor-aware stall sweep: the 20x-median guard above only catches
    # extreme stalls (>= 8 s). The build host also shows roaming stall
    # WINDOWS that land a contiguous half-dozen mid-weight entries at
    # 2-6x their committed anchor while the rest of the suite sits at
    # 1.0x — two back-to-back runs trip DISJOINT sets (r9 observed:
    # dq58-dq69 in one run, dq46-dq52 in the next), so those rows are
    # transient host allocation, not plan cost. Re-measure exactly the
    # entries that would trip scripts/bench_compare.py's calibrated
    # bound and keep the min, so a single driver run self-heals; same
    # session-cache retry-eligibility rule as the pass above.
    anchor_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_anchor.json")
    if os.path.exists(anchor_path):
        sys.path.insert(0, os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "scripts"))
        from bench_compare import compare

        with open(anchor_path) as fh:
            anchor = json.load(fh)
        try:
            report = compare(anchor, {
                "queries": timings,
                "cache_builders": sorted(cache_builders)})
        except SystemExit:
            report = {"regressions": {}}
        # worst RATIO first, not largest absolute time: a stall window
        # inflates sub-second entries 3-8x while barely moving the big
        # rows, and a time-sorted cap spent its 20 slots on the rows
        # least likely to be the problem (observed r13)
        for name in sorted(report["regressions"],
                           key=lambda n: -report["regressions"][n]["ratio"]
                           )[:20]:
            if name in retries or name not in by_name:
                continue
            n_cached = session_cache_len()
            t0 = time.perf_counter()
            materialize(by_name[name].builder(tables))
            retry = round(time.perf_counter() - t0, 3)
            if session_cache_len() > n_cached:
                continue
            # symmetric, as above: keep the fresh sample; fall back to
            # the min only when BOTH runs sat in stall windows (retry
            # still double its anchor-calibrated expectation)
            cal = report.get("calibration_median_ratio", 1.0) or 1.0
            a = anchor["queries"].get(name)
            both = bool(a) and retry > 2.0 * cal * a
            retries[name] = {"first": timings[name], "retry": retry,
                             "trigger": "anchor", "stalled": True,
                             "both_stalled": both}
            timings[name] = min(timings[name], retry) if both else retry

    # free the suite's persisted shared tables first: the e2e row measures
    # a serving pipeline, not how it fares while 178 analytics entries'
    # caches occupy executor storage memory (measured 8.3 vs 2.6 s/batch)
    from multi_model_vectorsearch_spark.operators.textpipe import (
        clear_session_caches,
    )

    clear_session_caches()
    timings["e2e_submit_microbatch"] = bench_e2e_ingest(spark, tables)
    # Stall-retry for the e2e row, same spirit as the per-entry sweeps:
    # it is measured AFTER the anchor sweep so nothing re-measures it,
    # and the host's roaming stall windows land on it regularly (r12
    # observed 14.5 s median-of-warm during a stall vs 2.4-5.5 s
    # otherwise). Keep the min of two runs when the first reads far
    # above its anchor.
    try:
        with open(anchor_path) as fh:
            anchor_e2e = json.load(fh)["queries"].get(
                "e2e_submit_microbatch")
    except Exception:
        anchor_e2e = None
    if anchor_e2e and timings["e2e_submit_microbatch"] > 2.0 * anchor_e2e:
        # Symmetric reporting (r12 advice): keep the RETRY reading, not
        # the min — min-of-two systematically selects the fastest
        # observation for upward outliers while slow-biased anchors are
        # never retried downward. Both readings plus a stalled flag go
        # to the artifact; only when the retry ALSO breaches the anchor
        # bound (both runs stalled) does the min stand in, flagged.
        first = timings["e2e_submit_microbatch"]
        retry = bench_e2e_ingest(spark, tables)
        both_stalled = retry > 2.0 * anchor_e2e
        retries["e2e_submit_microbatch"] = {
            "first": first, "retry": retry, "trigger": "anchor",
            "stalled": True, "both_stalled": both_stalled}
        timings["e2e_submit_microbatch"] = (
            min(first, retry) if both_stalled else retry)

    total = round(sum(timings.values()), 3)
    # The driver captures only the last 2000 chars of stdout (BENCH_r02.json:
    # even compact keys for 165 queries overflowed it, clipping the line's
    # head and failing the parse). Emit ONLY the BASELINE.md headline queries
    # plus the slowest entries — every timing still goes to bench_full.json
    # on disk. The key set is DETERMINISTIC round-over-round (r14 verdict
    # item 2): a purely current-run slowest-25 made entries that merely got
    # FASTER fall out of the printed set, which the round driver recorded as
    # nine false "dropped" queries. Printed keys = headline ∪ every key the
    # previous round printed (pinned below) ∪ the committed anchor's
    # slowest-25 ∪ this run's slowest-25 — so a key can join the set but
    # never silently leave it while the query still runs.
    headline = ["dq29", "dq31", "dq33", "dq34", "dq36", "dq37", "dq38",
                "dq46", "dq61", "dq77", "e2e"]
    # keys printed by the round-14 driver artifact (BENCH_r14.json)
    pinned_r14 = ["dq29", "dq31", "dq33", "dq34", "dq57", "dq64", "dq61",
                  "dq36", "dq37", "dq38", "dq77", "dq70", "dq42", "dq46",
                  "dq122", "dq125", "dq128", "dq135", "dq140", "dq165",
                  "dq166", "dq168", "dq174", "dq177", "dq178", "dq183",
                  "dq186", "dq199", "dq225", "dq238", "dq247", "dq248",
                  "e2e"]
    short = {n.split("_", 1)[0]: t for n, t in timings.items()}
    slowest = sorted(short, key=lambda n: -short[n])[:25]
    anchor_slowest: list[str] = []
    try:
        with open(anchor_path) as fh:
            aq = json.load(fh)["queries"]
        a_short = {n.split("_", 1)[0]: t for n, t in aq.items()}
        anchor_slowest = sorted(a_short, key=lambda n: -a_short[n])[:25]
    except Exception:
        pass
    keep = set(headline) | set(pinned_r14) | set(anchor_slowest) | set(slowest)
    compact = {n: short[n] for n in short if n in keep or n == "e2e"}
    line = {
        "metric": "dq_suite_total",
        "value": total,
        "unit": "sec",
        "queries": compact,
        # entries whose timing absorbed the FIRST build of a shared
        # session cache (one-off cost repeat runs don't pay) — so a
        # reader doesn't misread dq203/dq225-class rows as hot plans
        "cache_builders": sorted({n.split("_", 1)[0]
                                  for n in cache_builders}),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # stall self-labelling (r13 verdict item 4): load at suite start,
    # stalled_host flag, and the anchor-calibrated total so a stalled
    # artifact reads as stalled without cross-run forensics
    try:
        with open(anchor_path) as fh:
            anchor_for_labels = json.load(fh)
    except Exception:
        anchor_for_labels = None
    labels = stall_labels(total, timings, cache_builders,
                          anchor_for_labels, load_at_start, load_gate)
    line.update(labels)
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_full.json"), "w") as fh:
        # cache_builders: entries whose timing absorbed the FIRST build of a
        # shared session cache (retry-ineligible by design) — their rows
        # include one-off cost that repeat runs don't pay
        json.dump({"total_sec": total, "queries": timings,
                   "retries": retries,
                   "cache_builders": sorted(cache_builders), **labels}, fh,
                  indent=1, sort_keys=True)
    print(result_line(line))


if __name__ == "__main__":
    main()
