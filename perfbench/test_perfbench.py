"""The benchmark's own tests: a tiny run of every workload prints every
metric with its unit and passes the gate; a corrupted expected result
trips the gate; without the engine the command fails cleanly.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

#: the workload-specific metrics each run prints on its ``named`` line
SERVE = {"serve_p50_ms": "ms", "serve_p90_ms": "ms", "serve_late_frac": "fraction"}
NAMED = {
    "batch_headline": {"batch_total_s": "s", **SERVE},
    "serve_reports": SERVE,
    "lake_microbatch": {"lake_write_p50_ms": "ms", "lake_write_p90_ms": "ms",
                        "lake_read_p50_ms": "ms", "ingest_batch_p50_ms": "ms",
                        "lake_rows_per_s": "1/s", "lake_space_amp": "ratio"},
}
COMMON = {"setup_s": "s", "peak_rss_mb": "MB", "failed_frac": "fraction",
          "timed_ops": "count"}
#: the gated workloads and serve_reports, which runs on demand
WORKLOADS = list(NAMED)
assert [w["name"] for w in SPEC["workloads"]] == ["batch_headline", "lake_microbatch"]


def bench(workload: str, *extra: str, trace: int = 0, cwd: str = ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", workload, "--seed", "3", "--seconds", "1",
           "--trace", str(trace), "--size", "tiny", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines


def result(lines):
    return json.loads(lines[-1])


def named(lines):
    line = next(x for x in lines if x.startswith("named "))
    return json.loads(line[len("named "):])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_prints_every_metric_with_unit(workload):
    rc, lines = bench(workload)
    res = result(lines)
    assert rc == 0, lines[-5:]
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want
    assert all(v["value"] > 0 for v in res["metrics"].values())
    printed = named(lines)
    for k, unit in {**COMMON, **NAMED[workload]}.items():
        assert printed[k]["unit"] == unit, k
    assert any(x.startswith("env ") for x in lines)


#: per-layer metrics each gated workload must load (non-zero)
LOADED = {
    "batch_headline": ("registry.build_s", "catalyst.optimization_ms", "exec.jobs",
                       "exec.executor_cpu_s", "service.handle_ms", "service.rows_returned"),
    "lake_microbatch": ("ingest.batch_ms", "lake.commit_ms", "log.files"),
}


@pytest.mark.parametrize("workload", list(LOADED))
def test_traced_run_prints_every_layer_metric(workload):
    rc, lines = bench(workload, trace=1)
    res = result(lines)
    assert rc == 0 and res["correct"] is True
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert all(m[k] > 0 for k in LOADED[workload]), {k: m[k] for k in LOADED[workload]}
    if workload == "lake_microbatch":  # single-threaded: no overlapping spans
        self_total = sum(v for k, v in m.items() if k.startswith("self."))
        assert abs(self_total - m["trace.wall_s"]) < 1e-6 * max(m["trace.wall_s"], 1)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_expected_result_trips_the_gate(workload):
    rc, lines = bench(workload, "--corrupt")
    res = result(lines)
    assert rc == 1
    assert res["correct"] is False and res["failed"] >= 1
    assert any(x.startswith("MISMATCH ") for x in lines)


def test_fails_without_the_engine():
    bare = os.path.join(ROOT, ".bench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        rc, lines = bench(WORKLOADS[0], cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert rc != 0
    assert not any(x.startswith("{") for x in lines)
