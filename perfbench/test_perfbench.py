"""The benchmark's own test: a tiny instance of each workload, run once
untraced and twice traced with one seed.

    python3 -m pytest perfbench/test_perfbench.py -q

Checks that every metric named in BENCHMARK.json is emitted with its
unit, that the correctness gate passes, and that every count (jobs per
call, WandCounters, block rows, index bytes) repeats exactly.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(REPO, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
# times and rates vary from run to run; every other unit is a count
VARYING_UNITS = {"s", "1/s"}


def run(workload: str, trace: int, cwd: str = REPO) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def metrics(workload: str, trace: int, spec: list) -> dict:
    p = run(workload, trace)
    assert p.returncode == 0, p.stderr[-4000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    got = out["metrics"]
    assert sorted(got) == sorted(m["name"] for m in spec)
    for m in spec:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], (int, float)), m["name"]
    return {k: v["value"] for k, v in got.items()}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_emits_every_metric_and_repeats_counts(workload):
    e2e = metrics(workload, 0, SPEC["end_to_end"])
    assert all(v > 0 for v in e2e.values()), e2e
    first = metrics(workload, 1, SPEC["per_layer"])
    second = metrics(workload, 1, SPEC["per_layer"])
    counts = [m["name"] for m in SPEC["per_layer"] if m["unit"] not in VARYING_UNITS]
    assert {n: first[n] for n in counts} == {n: second[n] for n in counts}


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(REPO, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = run(SPEC["workloads"][0]["name"], 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""
