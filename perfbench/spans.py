"""Spans around the benchmark's calls into the program, with Spark counters.

The benchmark measures every layer from outside the program: it times its
own calls into each layer's public functions and, in a traced run, tags
each call's Spark jobs with a job group of its own, then reads the jobs,
stages and task metrics of that group from Spark's status store. Spans are
kept in memory and written out once, when the run ends.

An untraced run takes the same timings but sets no job group and reads no
counters, so the difference between the two runs is the tracing overhead.
"""

from __future__ import annotations

import re
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Every metric name the benchmark prints must match this pattern.
NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")

#: Counters read per span; ``driver_s`` is derived from the job intervals.
COUNTERS = ("jobs", "stages", "tasks", "task_s", "shuffle_bytes",
            "output_bytes")


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of ``(start, end)`` intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def driver_seconds(start: float, end: float,
                   jobs: list[tuple[float, float]]) -> float:
    """A call's wall time minus the union of its jobs' intervals.

    Job intervals (submission to completion, wall-clock seconds) are
    clipped to the call's own ``[start, end]`` first, so a job the
    status store dates a millisecond outside the call cannot make the
    result exceed the wall time or go negative."""
    clipped = [(max(s, start), min(e, end)) for s, e in jobs]
    return (end - start) - union_seconds([c for c in clipped if c[1] > c[0]])


@dataclass
class Span:
    name: str
    start: float  # wall-clock seconds (time.time), for job-interval overlap
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    group: str | None = None
    counters: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Times the benchmark's calls; when ``enabled``, records a span for
    each and the Spark counters of the jobs it ran.

    ``span`` is a context manager usable at any nesting depth. Counters
    are read by ``collect`` — call it between operations, outside any
    timed region, so reading them never inflates a measured latency."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._pending: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        sp = Span(name, time.time(), parent=parent, op=op)
        if self.enabled:
            sc = self.spark.sparkContext
            idx = len(self.spans)
            self.spans.append(sp)
            sp.group = f"perfbench-{idx}"
            sc.setJobGroup(sp.group, name, interruptOnCancel=False)
            self._stack.append(idx)
        try:
            yield sp
        finally:
            sp.end = time.time()
            if self.enabled:
                self._stack.pop()
                self._pending.append(idx)
                if self._stack:
                    outer = self.spans[self._stack[-1]].group
                    sc.setJobGroup(outer, "", interruptOnCancel=False)
                else:
                    sc._jsc.clearJobGroup()

    def collect(self) -> None:
        """Read the counters of every span closed since the last call.

        A span's counters cover its own jobs and its children's;
        ``driver_s`` is its wall time minus the union of all of them."""
        if not self._pending:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        no_statuses = sc._jvm.java.util.Collections.emptyList()
        own: dict[int, tuple[dict, list]] = {}
        for idx in self._pending:
            totals = dict.fromkeys(COUNTERS, 0)
            intervals = []
            for jid in tracker.getJobIdsForGroup(self.spans[idx].group):
                job = store.job(jid)
                if job.completionTime().isEmpty():
                    raise RuntimeError(f"job {jid} has not completed")
                intervals.append((job.submissionTime().get().getTime() / 1e3,
                                  job.completionTime().get().getTime() / 1e3))
                totals["jobs"] += 1
                for sid in tracker.getJobInfo(jid).stageIds:
                    attempts = store.stageData(sid, False, no_statuses,
                                               False, no_quantiles)
                    for i in range(attempts.size()):
                        st = attempts.apply(i)
                        if st.status().toString() == "SKIPPED":
                            continue
                        totals["stages"] += 1
                        totals["tasks"] += st.numTasks()
                        totals["task_s"] += st.executorRunTime() / 1e3
                        totals["shuffle_bytes"] += st.shuffleWriteBytes()
                        totals["output_bytes"] += st.outputBytes()
            own[idx] = (totals, intervals)
        # children close before their parents, so one pass in closing
        # order folds every child into its parent before the parent is
        # finished
        for idx in self._pending:
            sp = self.spans[idx]
            totals, intervals = own[idx]
            sp.counters.update(totals)
            sp.counters["driver_s"] = driver_seconds(sp.start, sp.end,
                                                     intervals)
            if sp.parent is not None and sp.parent in own:
                ptotals, pintervals = own[sp.parent]
                for k in COUNTERS:
                    ptotals[k] += totals[k]
                pintervals.extend(intervals)
        self._pending.clear()

    def median(self, name: str, field: str = "seconds") -> float:
        """Median of ``field`` over the spans called ``name``; 0 if none.

        ``field`` is ``seconds`` or one of the counters."""
        values = [s.seconds if field == "seconds" else s.counters[field]
                  for s in self.spans if s.name == name]
        return statistics.median(values) if values else 0.0

    def records(self) -> list[dict]:
        """The spans as plain dicts, for writing out at the end of a run."""
        return [{"id": i, "name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "op": s.op, **s.counters}
                for i, s in enumerate(self.spans)]


class Client:
    """The one closed-loop client of a workload: it sends a request only
    after the previous one answered, times each request, and counts the
    requests attempted and failed. A request fails when the program
    raises or when a check of its output does not hold."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.latencies: dict[str, list[float]] = {}

    def request(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` as one request under a span called ``name``; returns
        its result, or None when it raised."""
        self.attempted += 1
        try:
            with self.tracer.span(name, op=self.attempted) as sp:
                out = fn(*args, **kwargs)
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None
        finally:
            if self.tracer.enabled:
                self.tracer.collect()
        self.latencies.setdefault(name, []).append(sp.seconds)
        return out

    def check(self, ok: bool, what: str) -> None:
        """Count a wrong answer of the last request as a failed request."""
        if not ok:
            self.failed += 1
            print(f"check failed: {what}", file=sys.stderr)

    def verify(self, ok: bool, what: str) -> None:
        """An output check made outside the measured loop: one more
        operation attempted, failed unless ``ok``."""
        self.attempted += 1
        self.check(ok, what)

    @property
    def requests(self) -> int:
        return sum(len(v) for v in self.latencies.values())
