"""Self-tests of the benchmark.

    python3 -m pytest perfbench -q

The smoke runs start one Spark session per case on tiny inputs and take
about a minute each.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, ROOT]

import run  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_tables_match_benchmark_json():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER_UNITS


def test_workloads_match_benchmark_json():
    from workloads import WORKLOADS

    assert [w["name"] for w in _spec()["workloads"]] == list(WORKLOADS)


def test_plant_patterns_stays_within_k():
    import numpy as np

    from sassy_spark.kernel import reference_dp
    from workloads import plant_patterns

    rng = np.random.default_rng(3)
    texts = [(f"t{i}", "".join(rng.choice(list("abcde "), 200))) for i in range(20)]
    for _, pat, tid in plant_patterns(texts, 10, 32, 3, rng):
        assert min(reference_dp.semiglobal_costs(pat, dict(texts)[tid])) <= 3


@pytest.mark.parametrize(
    "workload,scale", [("er_hot_hosts", 0.25), ("search", 0.1)]
)
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_passes_every_gate(workload, scale, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"),
         "--workload", workload, "--seed", "5", "--seconds", "1",
         "--trace", str(trace), "--scale", str(scale)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    detail = json.loads(lines[-2])
    assert all(j["ok"] for j in detail["jobs"])
    units = run.PER_LAYER_UNITS if trace else run.E2E_UNITS
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], float), name
    if trace:
        spans = os.path.join(BENCH_DIR, "_work", "spans", f"{workload}-seed5.jsonl")
        with open(spans) as f:
            names = {json.loads(line)["name"] for line in f}
        layers = {"er_hot_hosts": {"blocking", "candidates", "scoring",
                                   "cluster", "checkpoint"},
                  "search": {"search"}}[workload]
        assert {"pages", "job"} | layers <= names


def test_refuses_to_run_without_the_engine(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(BENCH_DIR):
        if name.endswith(".py"):
            (bench / name).write_text(open(os.path.join(BENCH_DIR, name)).read())
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "search",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
