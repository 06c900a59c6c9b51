"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q

The smoke tests run each workload at a tiny scale in a subprocess (about
a minute each): every named metric must be emitted, and a deliberately
wrong expected value must be counted as a failed op.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench.harness import end_to_end, tail
from perfbench.layers import METRICS
from perfbench.trace import Joined, Job, Span, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
with open(os.path.join(REPO, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=300,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_benchmark_json_matches_layer_table():
    assert [(m["name"], m["unit"]) for m in BENCH["per_layer"]] == [
        (name, unit) for name, unit, _ in METRICS]
    assert {w["name"] for w in BENCH["workloads"]} == {"lake", "llm_pipeline"}
    assert "setup_s" in {m["name"] for m in BENCH["end_to_end"]}


def test_end_to_end_timings_rest_on_per_kind_medians():
    # one stalled op of each kind moves neither timing
    lat = [10.0, 10.0, 900.0, 1000.0, 1000.0, 5000.0]
    kinds = ["a", "a", "a", "b", "b", "b"]
    m = end_to_end(2.0, lat, kinds)
    assert m["setup_s"] == (2.0, "s")
    assert m["wall_s"] == (pytest.approx(3.03), "s")
    assert m["op_p50_ms"] == (pytest.approx(100.0), "ms")


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail(list(range(1, 101))) == (90.0, 90)
    assert tail([5.0, 1.0, 3.0]) == (100.0, 5.0)


def test_self_time_and_driver_only_time():
    tr = Tracer(sc=None, enabled=False)
    ms = 1_000_000
    tr.spans = [Span("a", None, "op.x", 0, 100 * ms),
                Span("b", "a", "delta.scan.plan", 10 * ms, 30 * ms),
                Span("c", "a", "delta.scan.exec", 40 * ms, 90 * ms)]
    j = Joined(tr, {0: Job(0, "c", 50, 70), 1: Job(1, "c", 60, 80)}, {})
    root = tr.spans[0]
    assert j.self_ms(root) == pytest.approx(30.0)
    assert len(j.jobs(root)) == 2
    assert j.driver_only_ms(root) == pytest.approx(70.0)


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "--workload", "lake", "--seed", "1",
                "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_smoke_end_to_end_counts_a_wrong_expectation(workload):
    res = _result(_run(REPO, "--workload", workload, "--seed", "7", "--seconds",
                       "1", "--sf", "0.001", "--trace", "0", "--inject-fault"))
    assert res["failed"] == 1 and res["correct"] is False
    assert res["attempted"] > 1
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_smoke_traced_run_emits_every_layer_metric(workload):
    res = _result(_run(REPO, "--workload", workload, "--seed", "8", "--seconds",
                       "1", "--sf", "0.001", "--trace", "1"))
    assert res["failed"] == 0 and res["correct"] is True
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert res["metrics"]["spark.jobs"]["value"] > 0
