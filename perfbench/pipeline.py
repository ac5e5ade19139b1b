"""The ``pipeline`` workload: warm ``/search`` reads beside ``/submit`` writes.

Set-up bulk-loads a seeded corpus with the IVF index maintained, builds
the graph in one ``cells`` pass and warms the serving state, twice, each
time in a fresh state root. After a few untimed warm reads, the one
closed-loop client repeats a cycle until the run's time is up, at least
``MIN_CYCLES`` times:

1. ``/submit`` one micro-batch (``process_batch``); a fixed share of it
   re-submits content already stored, so the dedup path runs;
2. ``COLD`` cold ``/search`` calls, each for a doc the batch just stored
   (ingest dropped the warm snapshot, so these reads plan against the
   state store);
3. ``compact()``, so every warm read below plans against the same
   compacted state, whichever cycle it is in;
4. ``warm()`` again, as a serving deployment re-warms after ingest;
5. ``SINGLES`` warm single ``/search`` calls (``route="exact"``),
   alternately texts of stored docs and perturbed texts no doc holds;
6. one ``search_many`` batch of ``MANY`` queries (``route="auto"``).

The run's query latency is that of the warm single ``/search`` calls,
``MIN_CYCLES * SINGLES`` or more of them: the serving path a user meets
most. The cold reads after ``/submit`` count as requests and have
per-layer metrics of their own (``ingest.search_cold.*``).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from inputs import PipelineInputs
from spans import COUNTERS, Client, Tracer

N_DOCS = 100
BATCH_DOCS = 30
DUP_SHARE = 0.2
COLD = 2
SINGLES = 7
MANY = 8
MIN_CYCLES = 2
WARMUP_SINGLES = 2
SETUP_REPS = 2
K = 10
SCHEMA = "doc_id bigint, text string, modality string"

#: Per-layer metrics this workload reports in a traced run.
PER_LAYER = (
    "ingest.bulk_load.s", "ingest.build_graph.s", "ingest.build_graph.jobs",
    "ingest.warm.s", "ingest.warm.pinned_bytes",
    "ingest.search.s", "ingest.search.plan_s", "ingest.search.exec_s",
    "ingest.search.driver_s", "ingest.search.jobs", "ingest.search.stages",
    "ingest.search.tasks",
    "ingest.search_many.s", "ingest.search_many.plan_s",
    "ingest.search_many.exec_s", "ingest.search_many.jobs",
    "ingest.search_many.task_s", "ingest.search_many.shuffle_bytes",
    "ingest.search_many.qps",
    "ingest.process_batch.s", "ingest.process_batch.driver_s",
    "ingest.process_batch.jobs", "ingest.process_batch.stages",
    "ingest.process_batch.task_s", "ingest.process_batch.shuffle_bytes",
    "ingest.process_batch.output_bytes", "ingest.process_batch.docs_per_s",
    "statefs.files", "statefs.bytes", "statefs.bytes_per_doc",
    "ingest.compact.s", "ingest.compact.jobs",
    "ingest.compact.bytes_rewritten",
    "ingest.search_cold.s", "ingest.search_cold.plan_s",
    "ingest.search_cold.exec_s", "ingest.search_cold.driver_s",
    "ingest.search_cold.jobs",
    "ingest.rewarm.s",
)


def _tree_size(root: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


class Pipeline:
    def __init__(self, spark, tracer: Tracer, seed: int, work: str):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.inputs = PipelineInputs(seed, N_DOCS, BATCH_DOCS, DUP_SHARE)
        self.client = Client(tracer)
        self.setup_s: list[float] = []
        self.layer: dict[str, float] = {}
        self.pipe = None
        # traced runs only: (files, bytes) under the state root after the
        # last batch
        self._statefs = (0, 0)

    # --- set-up ----------------------------------------------------------

    def set_up(self) -> None:
        """Build the serving state ``SETUP_REPS`` times, each in a fresh
        state root; the last one serves the measured loop."""
        from multi_model_vectorsearch_spark.streaming.ingest import (
            IngestPipeline,
        )

        span = self.tracer.span
        pinned = []
        for rep in range(SETUP_REPS):
            if self.pipe is not None:
                self.pipe.unwarm()
                shutil.rmtree(self.pipe.state_dir)
            state = os.path.join(self.work, f"state{rep}")
            t0 = time.perf_counter()
            with span("setup"):
                docs = self.spark.createDataFrame(self.inputs.corpus, SCHEMA)
                self.pipe = IngestPipeline(self.spark, state, k=K,
                                           maintain_ivf=True,
                                           n_centroids=None)
                with span("ingest.bulk_load"):
                    self.pipe.bulk_load(docs)
                with span("ingest.build_graph"):
                    self.pipe.build_graph(method="cells")
                with span("ingest.warm"):
                    sizes = self.pipe.warm()
            self.setup_s.append(time.perf_counter() - t0)
            pinned.append(sum(v for k, v in sizes.items()
                              if k.startswith("pinned_bytes_")))
            if self.tracer.enabled:
                self.tracer.collect()
        self.layer["ingest.warm.pinned_bytes"] = statistics.median(pinned)

    # --- the measured loop -----------------------------------------------

    def _search(self, name: str, fn, *args, **kwargs) -> list | None:
        span = self.tracer.span

        def call():
            with span(name + ".plan"):
                df = fn(*args, **kwargs)
            with span(name + ".exec"):
                return df.collect()

        return self.client.request(name, call)

    def _check_top(self, rows: list | None, expect: int | None,
                   what: str) -> None:
        if rows is None:
            return
        if expect is None:
            self.client.check(len(rows) > 0, f"{what}: no answer")
        else:
            top = max(rows, key=lambda r: (r["score"], -r["id"]),
                      default=None)
            self.client.check(top is not None and top["id"] == expect,
                              f"{what}: doc {expect} not ranked first")

    def cycle(self, c: int) -> None:
        client, pipe, inp = self.client, self.pipe, self.inputs
        batch = inp.batch(COLD)
        df = self.spark.createDataFrame(batch.rows, SCHEMA)
        client.request("ingest.process_batch", pipe.process_batch, df, c,
                       key=f"s{c}")
        if self.tracer.enabled:
            self._statefs = _tree_size(pipe.state_dir)
        for text, doc_id in batch.probes:
            rows = self._search("ingest.search_cold", pipe.search, text,
                                k=K, route="exact")
            self._check_top(rows, doc_id, "cold /search after /submit")
        client.request("ingest.compact", pipe.compact)
        client.request("ingest.rewarm", pipe.warm)
        self.reads()

    def reads(self, singles: int = SINGLES) -> None:
        """The cycle's warm reads: single ``/search`` calls, then one
        ``search_many`` batch."""
        client, pipe = self.client, self.pipe
        for text, expect in self.inputs.queries(singles):
            rows = self._search("ingest.search", pipe.search, text, k=K,
                                route="exact")
            self._check_top(rows, expect, "warm /search")
        queries = self.inputs.queries(MANY)
        rows = self._search("ingest.search_many", pipe.search_many,
                            [q for q, _ in queries], k=K, route="auto")
        if rows is not None:
            answered = {r["qid"] for r in rows}
            client.check(answered == set(range(MANY)),
                         f"search_many answered {len(answered)}/{MANY}")

    def measure(self, seconds: float) -> float:
        """Warm the JVM on a few untimed, untraced reads, then run whole
        cycles until ``seconds`` have passed and at least ``MIN_CYCLES``
        ran; returns the measured wall time. Warm-up requests still count
        as attempted and, if wrong, as failed."""
        traced, self.tracer.enabled = self.tracer.enabled, False
        self.reads(WARMUP_SINGLES)
        self.tracer.enabled = traced
        self.client.latencies.clear()
        t0 = time.perf_counter()
        c = 0
        while c < MIN_CYCLES or time.perf_counter() - t0 < seconds:
            self.cycle(c)
            c += 1
        return time.perf_counter() - t0

    # --- untimed checks --------------------------------------------------

    def verify(self) -> None:
        """Output checks after the loop, outside any timing: batched
        answers equal single answers for a seeded sample, no batch is
        torn, and the corpus holds exactly the distinct contents sent."""
        client, pipe = self.client, self.pipe
        sample = [q for q, _ in self.inputs.queries(2)]
        many = pipe.search_many(sample, k=K, route="auto").collect()
        for qid, text in enumerate(sample):
            single = {(r["id"], r["score"]) for r in
                      pipe.search(text, k=K, route="auto").collect()}
            batched = {(r["id"], r["score"]) for r in many
                       if r["qid"] == qid}
            client.verify(single == batched,
                          f"search_many differs from search for query {qid}")
        torn = pipe.torn_batch_keys()
        client.verify(not torn, f"torn batches after the run: {sorted(torn)}")
        stored = pipe.corpus().count()
        expect = len(self.inputs.stored)
        client.verify(stored == expect,
                      f"corpus holds {stored} docs, {expect} distinct sent")
        self.n_stored = stored

    # --- per-layer metrics -----------------------------------------------

    @property
    def queries(self) -> list[float]:
        """Latencies of the warm single ``/search`` calls."""
        return self.client.latencies.get("ingest.search", [])

    def per_layer(self) -> dict[str, float]:
        """Per-call medians of each ``ingest.*`` span's time and counters,
        and the workload's own ratios and state-store sizes."""
        t = self.tracer
        out = dict(self.layer)
        for name in PER_LAYER:
            layer, _, metric = name.rpartition(".")
            if name in out or not layer.startswith("ingest."):
                continue
            if metric in ("plan_s", "exec_s"):
                out[name] = t.median(f"{layer}.{metric[:4]}")
            elif metric == "s":
                out[name] = t.median(layer)
            elif metric in COUNTERS or metric == "driver_s":
                out[name] = t.median(layer, metric)
        out["ingest.compact.bytes_rewritten"] = t.median("ingest.compact",
                                                         "output_bytes")
        out["ingest.search_many.qps"] = MANY / t.median("ingest.search_many")
        out["ingest.process_batch.docs_per_s"] = (
            BATCH_DOCS / t.median("ingest.process_batch"))
        out["statefs.files"], out["statefs.bytes"] = self._statefs
        out["statefs.bytes_per_doc"] = self._statefs[1] / self.n_stored
        return out
