"""Smoke test of the repo benchmark at R-MAT scale 8.

Checks that every metric named in BENCHMARK.json is emitted with its unit,
that a wrong reference answer is counted as a failure, and that a directory
without the package makes the benchmark fail without printing a result.

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def bench(workload: str, trace: int, *extra: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
           "--seconds", "0", "--trace", str(trace), "--scale", "8", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == RESULT_KEYS
    return res


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_named_metric_is_emitted(workload, trace):
    res = result(bench(workload, trace))
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    if not trace:
        assert all(res["metrics"][m["name"]]["value"] != 0 for m in spec)
    else:
        frac = res["metrics"]["trace.self_sum_frac"]["value"]
        assert 0.9 <= frac <= 1.1


@pytest.mark.parametrize("workload", WORKLOADS)
def test_wrong_reference_counts_as_failed(workload):
    res = result(bench(workload, 0, "--corrupt-reference"))
    assert not res["correct"]
    assert res["failed"] > 0
    assert res["metrics"]["ok_frac"]["value"] < 1.0


def test_fails_without_the_package():
    bare = os.path.join(ROOT, ".perfbench_runs", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in SPEC["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p))
        proc = bench(WORKLOADS[0], 0, cwd=bare)
        assert proc.returncode != 0
        last = proc.stdout.strip().splitlines()[-1:] or [""]
        assert not last[0].startswith('{"correct"')
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(bare))
        except OSError:
            pass
