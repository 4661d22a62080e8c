"""Smoke test of the benchmark at the tiny input size.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload of ``BENCHMARK.json`` untraced and traced for one
unit of work, and checks that the last output line names every declared
metric with its unit and that no operation failed. A copy holding only
``BENCHMARK.json`` and ``perfbench/`` must refuse to run.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = SPEC["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--size", "tiny",
    ]
    cmd[0] = sys.executable if cmd[0] == "python3" else cmd[0]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_printed_and_nothing_failed(workload, trace):
    p = run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert result["failed"] == 0 and result["correct"] is True
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    got = result["metrics"]
    assert {m["name"]: m["unit"] for m in declared} == {k: v["unit"] for k, v in got.items()}
    if not trace:
        assert all(v["value"] > 0 for v in got.values())


def test_refuses_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(
            os.path.join(ROOT, path), tmp_path / path, ignore=shutil.ignore_patterns("_work")
        )
    p = run(str(tmp_path), SPEC["workloads"][0]["name"], 0)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
