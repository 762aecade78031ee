"""Smoke runs of the benchmark: every workload, with tracing off and on,
over small input tables, must print a correct result whose metrics are
exactly the ones BENCHMARK.json names, each with its unit. Also: outside
a mito_spark checkout the benchmark fails fast without a result.

Takes a few minutes (one Spark process per run).
Run: python3 -m pytest perfbench/tests/test_smoke.py
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


@pytest.fixture(scope="module")
def small_data(tmp_path_factory):
    from gendata import build

    out = str(tmp_path_factory.mktemp("bench") / "data")
    build(out, scale=0.04)
    return out


def run(*args, cwd=ROOT, timeout=180):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=timeout)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_prints_every_metric_with_its_unit(small_data, workload, trace):
    p = run("--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace),
            "--data-dir", small_data)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == \
        {m["name"]: m["unit"] for m in spec}
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


def test_fails_without_a_checkout(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = run("--workload", "corpus_batch", "--seed", "1", "--seconds", "1", "--trace", "0",
            cwd=tmp_path, timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
