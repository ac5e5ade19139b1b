"""Tests of the benchmark's own logic; none of them starts Spark.

Run from the root of a checkout: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from types import SimpleNamespace

import pytest

import analytics
import inputs
import pipeline
import run
from spans import NAME_RE, Client, driver_seconds, union_seconds


@pytest.mark.parametrize("intervals,total", [
    ([], 0.0),
    ([(0, 1)], 1.0),
    ([(0, 1), (2, 3)], 2.0),
    ([(0, 2), (1, 3)], 3.0),
    ([(0, 4), (1, 2)], 4.0),
    ([(2, 3), (0, 1), (1, 2)], 3.0),
    ([(0, 1), (0, 1)], 1.0),
])
def test_union_seconds(intervals, total):
    assert union_seconds(intervals) == pytest.approx(total)


def test_driver_seconds_subtracts_job_union():
    # a 10 s call with two overlapping jobs covering 1..5 and one at 7..8
    assert driver_seconds(0, 10, [(1, 4), (3, 5), (7, 8)]) == pytest.approx(5)


def test_driver_seconds_clips_jobs_to_the_call():
    assert driver_seconds(10, 20, [(9, 12), (19, 25)]) == pytest.approx(7)
    assert driver_seconds(10, 20, [(0, 5), (30, 40)]) == pytest.approx(10)
    assert driver_seconds(10, 20, [(0, 40)]) == pytest.approx(0)


@pytest.mark.parametrize("name", ["setup_s", "ingest.search.plan_s",
                                  "operators.vector_ops.jobs", "a-b.c_1"])
def test_name_pattern_accepts(name):
    assert NAME_RE.fullmatch(name)


@pytest.mark.parametrize("name", ["", "a b", "a/b", "p99%", "x:y"])
def test_name_pattern_rejects(name):
    assert not NAME_RE.fullmatch(name)


def _spec():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_declared_names_match_the_pattern():
    spec = _spec()
    for m in spec["end_to_end"] + spec["per_layer"] + spec["workloads"]:
        assert NAME_RE.fullmatch(m["name"]) and len(m["name"]) <= 64


def test_declared_per_layer_names_are_the_printed_ones():
    e2e, layers = run.declared_metrics()
    printed = (set(pipeline.PER_LAYER) | set(analytics.PER_LAYER)
               | {"trace.query_p50_s", "trace.requests_per_s"})
    assert set(layers) == printed
    assert len(pipeline.PER_LAYER) + len(analytics.PER_LAYER) + 2 == len(
        layers)


def test_declared_end_to_end_names_are_the_printed_ones():
    e2e, _ = run.declared_metrics()
    client = Client(tracer=None)
    client.latencies = {"x": [1.0] * 30}
    workload = SimpleNamespace(client=client, setup_s=[2.0, 3.0],
                               queries=[0.5] * 20 + [0.9] * 10)
    metrics, note = run.end_to_end(workload, elapsed=10.0)
    assert set(metrics) == set(e2e)
    assert metrics == {"setup_s": 2.5, "query_p50_s": 0.5,
                       "requests_per_s": 3.0}
    assert "median of 30 queries" in note


def _reap(body: str) -> list[str]:
    """Run ``body`` in a fresh interpreter that has adopted its
    descendants, then ``stop_descendants``; returns the printed
    seconds waited and the children left."""
    script = (f"import subprocess, sys, time\n"
              f"sys.path.insert(0, {os.path.dirname(run.__file__)!r})\n"
              f"import run\nrun.adopt_descendants()\n{body}\n"
              f"t = time.monotonic()\nrun.stop_descendants(grace=0.5)\n"
              f"print(time.monotonic() - t, len(run.child_pids()))\n")
    out = subprocess.run([sys.executable, "-c", script], check=True,
                         capture_output=True, text=True, timeout=60)
    return out.stdout.split()


def test_run_waits_for_a_grandchild_that_outlives_its_parent():
    # the child exits at once; its child, like a Python worker whose JVM
    # has gone, sleeps on and must still be waited for
    waited, left = _reap(
        "subprocess.Popen([sys.executable, '-c', 'import subprocess, sys; "
        "subprocess.Popen([sys.executable, \"-c\", "
        "\"import time; time.sleep(0.3)\"])']).wait()")
    assert float(waited) >= 0.1 and left == "0"


def test_run_stops_a_child_that_does_not_end():
    waited, left = _reap(
        "subprocess.Popen([sys.executable, '-c', 'import time; "
        "time.sleep(60)'])")
    assert 0.5 <= float(waited) < 30 and left == "0"


def test_declared_workloads_are_the_runnable_ones():
    assert [w["name"] for w in _spec()["workloads"]] == list(run.WORKLOADS)


def test_pipeline_inputs_repeat_under_a_seed():
    a = inputs.PipelineInputs(5, 50, 10, 0.2)
    b = inputs.PipelineInputs(5, 50, 10, 0.2)
    assert a.corpus == b.corpus
    assert a.batch() == b.batch()
    assert a.queries(4) == b.queries(4)
    assert inputs.PipelineInputs(6, 50, 10, 0.2).corpus != a.corpus


def test_batches_hold_the_seeded_duplicate_share():
    inp = inputs.PipelineInputs(1, 60, 20, 0.25)
    for _ in range(3):
        stored = {t for _, t, _ in inp.stored}
        batch = inp.batch(probes=4)
        dups = [r for r in batch.rows if r[1] in stored]
        assert len(dups) == 5 and batch.n_fresh == 15
        assert len({i for _, i in batch.probes}) == 4
        for text, doc_id in batch.probes:
            assert (doc_id, text, "text") in batch.rows
            assert text not in stored
    assert len({t for _, t, _ in inp.stored}) == len(inp.stored) == 105


def test_batch_refuses_more_probes_than_fresh_text_rows():
    with pytest.raises(ValueError):
        inputs.PipelineInputs(1, 60, 20, 0.25).batch(probes=6)


def test_queries_expect_stored_text_docs_first():
    inp = inputs.PipelineInputs(2, 30, 10, 0.2)
    docs = {d: (t, m) for d, t, m in inp.stored}
    for text, expect in inp.queries(10):
        if expect is None:
            assert text not in inp.texts
        else:
            assert docs[expect] == (text, "text")


def test_tables_repeat_under_a_seed(tmp_path):
    import pyarrow.parquet as pq

    inputs.write_tables(str(tmp_path / "a"), 3, sf=0.001)
    inputs.write_tables(str(tmp_path / "b"), 3, sf=0.001)
    for name in ("lineitem", "events", "documents", "embeddings"):
        a = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        assert a.equals(pq.read_table(tmp_path / "b" / f"{name}.parquet"))
    events = pq.read_table(tmp_path / "a" / "events.parquet")
    ts = events.column("ts").to_pylist()
    assert ts == sorted(ts)


def test_registry_order_comes_from_the_seed_alone():
    order = analytics.entry_order(4)
    assert order == analytics.entry_order(4)
    assert sorted(order) == sorted(analytics.ENTRIES)
    assert order != analytics.entry_order(5)


def test_entries_cover_every_registration_module_with_an_oracle():
    found = analytics.entry_modules()
    measured = [found[name] for name in analytics.ENTRIES]
    assert sorted(m for _, m in measured) == sorted(analytics.MODULES)
    assert all(dq.oracle for dq, _ in measured)
    assert not set(analytics.WARMUP) & set(analytics.ENTRIES)
