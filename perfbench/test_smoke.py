"""Smoke tests of the benchmark at tiny sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs end to end through run.py (timed and traced) at
--scale 0.05; the near-dup reference is cross-checked against the q31/q45
DuckDB oracle SQL; BENCHMARK.json is checked against the metrics the
benchmark emits.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import layers, reference  # noqa: E402
from perfbench.run import E2E_UNITS  # noqa: E402


def _run(workload: str, trace: int, seed: int = 3) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--scale", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    assert len(lines) == 2, out.stdout
    return json.loads(lines[0]), json.loads(lines[1])


@pytest.mark.parametrize("workload", ["frontier", "crawl", "neardup"])
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_smoke(workload, trace):
    record, result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = set(layers.PER_LAYER) if trace else set(E2E_UNITS)
    assert set(result["metrics"]) == want
    for m in result["metrics"].values():
        assert isinstance(m["value"], (int, float)) and m["unit"]
    assert record["nproc"] >= 1 and record["seed"] == 3
    if trace:
        with open(os.path.join(ROOT, record["spans_file"])) as fh:
            spans = [json.loads(line) for line in fh]
        assert {"id", "name", "parent", "run", "start", "end"} <= set(spans[0])


def test_neardup_reference_matches_duckdb_oracle(tmp_path):
    rows = reference.neardup_corpus(300, seed=5)
    want = reference.duckdb_neardup(rows, str(tmp_path))
    got = reference.neardup_digests(rows, n=3, max_df=20, threshold=0.5)
    assert got == want
    assert reference.neardup_pairs(rows, 3, 20, 0.5), "corpus produced no pairs"


def test_frontier_reference_counts():
    n, lo, hi, nd, _, _ = reference.frontier_digest(10_000, salt=7, n_hosts=100, take_k=2000)
    assert (lo, hi, nd) == (1, n, n)
    assert 0.9 * 8_000 * 0.95 < n <= 8_000


def test_benchmark_json_matches_emitted_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == ["frontier", "crawl", "neardup"]
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    assert [m["name"] for m in spec["per_layer"]] == layers.PER_LAYER
    assert all(m["unit"] == layers.unit(m["name"]) for m in spec["per_layer"])
    assert all(m["better"] == layers.better(m["name"]) for m in spec["per_layer"])


def test_refuses_to_run_without_the_program(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(HERE):
        if name.endswith((".py", ".json")):
            (bench / name).write_bytes(open(os.path.join(HERE, name), "rb").read())
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "frontier", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode != 0 and out.stdout == ""
