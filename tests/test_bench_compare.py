"""Unit tests for the automated bench bound (scripts/bench_compare.py).

Pure-JSON logic — no Spark session. The real gate is run as
``python3 scripts/bench_compare.py`` after ``python3 bench.py``.
"""

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))

from bench_compare import compare  # noqa: E402


def _run(queries_a, queries_c, cb_a=(), cb_c=(), **kw):
    return compare(
        {"queries": queries_a, "cache_builders": list(cb_a)},
        {"queries": queries_c, "cache_builders": list(cb_c)}, **kw)


def test_clean_run_passes():
    a = {f"q{i}": 1.0 for i in range(10)}
    r = _run(a, {k: v * 1.1 for k, v in a.items()})
    assert not r["regressions"] and r["checked"] == 10


def test_single_entry_regression_trips():
    a = {f"q{i}": 1.0 for i in range(10)}
    c = dict(a, q3=2.5)
    r = _run(a, c)
    assert set(r["regressions"]) == {"q3"}
    assert r["regressions"]["q3"]["ratio"] > 2.0


def test_uniformly_slow_host_is_calibrated_out():
    # BASELINE.md r8 note: a 2x-slower host on UNCHANGED plans must not
    # trip the bound — the median ratio absorbs it.
    a = {f"q{i}": 1.0 + i / 10 for i in range(11)}
    c = {k: v * 2.0 for k, v in a.items()}
    r = _run(a, c)
    assert not r["regressions"]
    assert abs(r["calibration_median_ratio"] - 2.0) < 1e-9


def test_regression_on_slow_host_still_trips():
    a = {f"q{i}": 1.0 for i in range(10)}
    c = {k: 2.0 for k in a}
    c["q7"] = 5.0  # 2.5x past the host factor
    r = _run(a, c)
    assert set(r["regressions"]) == {"q7"}


def test_cache_builders_excluded_from_both_sides():
    a = {"q0": 1.0, "q1": 1.0, "q2": 1.0}
    c = {"q0": 9.0, "q1": 1.0, "q2": 9.0}
    r = _run(a, c, cb_a=("q0",), cb_c=("q2",))
    assert not r["regressions"]
    assert r["checked"] == 1
    assert r["skipped_cache_builders"] == ["q0", "q2"]


def test_noise_floor_spares_tiny_entries():
    # 0.05 -> 0.14 is a 2.8x ratio but inside the +-0.3 s scheduling band
    a = {f"q{i}": 1.0 for i in range(8)}
    a["tiny"] = 0.05
    c = dict(a, tiny=0.14)
    r = _run(a, c)
    assert not r["regressions"]


def test_cli_end_to_end(tmp_path):
    anchor = {"queries": {"q0": 1.0, "q1": 1.0, "q2": 1.0},
              "cache_builders": []}
    cur = {"queries": {"q0": 1.0, "q1": 1.0, "q2": 3.0},
           "cache_builders": []}
    ap, cp = tmp_path / "a.json", tmp_path / "c.json"
    ap.write_text(json.dumps(anchor))
    cp.write_text(json.dumps(cur))
    script = os.path.join(os.path.dirname(__file__), "..", "scripts",
                          "bench_compare.py")
    out = subprocess.run(
        [sys.executable, script, "--anchor", str(ap), "--current", str(cp)],
        capture_output=True, text=True)
    assert out.returncode == 1 and "q2" in out.stdout
    cp.write_text(json.dumps(anchor))
    out = subprocess.run(
        [sys.executable, script, "--anchor", str(ap), "--current", str(cp)],
        capture_output=True, text=True)
    assert out.returncode == 0, out.stdout + out.stderr


def test_real_anchor_comparable_to_itself():
    """The committed anchor must be self-consistent (guards a malformed
    snapshot)."""
    root = os.path.join(os.path.dirname(__file__), "..")
    path = os.path.join(root, "bench_anchor.json")
    a = json.load(open(path))
    r = compare(a, a)
    assert not r["regressions"]
    assert r["calibration_median_ratio"] == 1.0
    assert r["checked"] > 150


def test_bench_quiet_gate_default_refuses_r13_stall_class(monkeypatch):
    """r13 verdict item 4: the driver's stalled artifact was taken at
    load 2.93 — UNDER the old 4.0 gate. The default gate must now
    refuse that load class (gate 1.5), still honoring the env override
    and the 0-disables contract."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    import bench

    monkeypatch.delenv("SPARK_GRAFT_LOAD_GATE", raising=False)
    # threshold resolution: exercise via a zero wait budget so the test
    # never sleeps — a load of 2.93 must WAIT (i.e. loop) under the
    # default gate; we pin the resolved default instead of timing loops
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (2.93, 0, 0))
    t0 = __import__("time").monotonic()
    load = bench.wait_for_quiet_host(max_wait=0.0)
    assert load == 2.93, "budget exhausted -> measure anyway, report load"
    assert __import__("time").monotonic() - t0 < 5, "no sleep on 0 budget"
    # gate disabled -> immediate, no refusal
    monkeypatch.setenv("SPARK_GRAFT_LOAD_GATE", "0")
    assert bench.wait_for_quiet_host(max_wait=0.0) == 2.93
    # the resolved default itself (the contract the driver relies on)
    monkeypatch.delenv("SPARK_GRAFT_LOAD_GATE", raising=False)
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (1.4, 0, 0))
    assert bench.wait_for_quiet_host(max_wait=0.0) == 1.4, \
        "1.4 < 1.5 default gate: no refusal"


def test_bench_artifact_self_labels_stall():
    """r13 verdict item 4: a run the gate could not protect must be
    readable AS stalled — stalled_host flag, the bench_compare-
    consistent calibration, and the calibrated total."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    import bench

    anchor = {"queries": {"q0": 1.0, "q1": 2.0, "q2": 1.0, "cb": 1.0},
              "cache_builders": ["cb"]}
    # uniformly 3x-inflated run (the stall-window signature)
    timings = {"q0": 3.0, "q1": 6.0, "q2": 3.0, "cb": 9.0}
    labels = bench.stall_labels(21.0, timings, {"cb"}, anchor,
                                load_at_start=2.93, gate=1.5)
    assert labels["stalled_host"] is True
    assert labels["load"] == 2.93
    assert labels["calibration"] == 3.0, \
        "median current/anchor over non-cache-builder entries"
    assert labels["calibrated_total_sec"] == 7.0
    # quiet run: flag off, calibration ~1
    labels = bench.stall_labels(5.0, {"q0": 1.0, "q1": 2.0, "q2": 1.0},
                                set(), anchor, load_at_start=0.7, gate=1.5)
    assert labels["stalled_host"] is False
    assert labels["calibration"] == 1.0
    # no anchor: labels degrade to load + flag, never guess
    labels = bench.stall_labels(5.0, timings, set(), None, 2.0, 1.5)
    assert labels == {"load": 2.0, "stalled_host": True}


def test_bench_result_line_refuses_overflow():
    """The one-line result is parsed from the last 2,000 characters of
    stdout. ``result_line`` passes the round-15 line (807 characters)
    and raises on a line that would be clipped, instead of printing it."""
    import pytest

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    import bench

    with open(os.path.join(os.path.dirname(__file__), "..",
                           "BENCH_r15.json")) as fh:
        parsed = json.load(fh)["parsed"]
    assert json.loads(bench.result_line(parsed)) == parsed
    wide = dict(parsed, queries={f"dq{i}": 1.0 for i in range(200)})
    with pytest.raises(ValueError, match="result line is"):
        bench.result_line(wide)
