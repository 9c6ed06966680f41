"""Self-test of the benchmark: tiny inputs, every workload end to end.

Run from the repository root (takes a few minutes; each case starts Spark):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import tracing  # noqa: E402
import workloads as wl  # noqa: E402

E2E_UNITS = {
    "setup_s": "s",
    "bytes_per_example": "B",
}
PRINTED_UNITS = {  # printed by every untraced run, outside the JSON
    **E2E_UNITS,
    "examples_per_s": "examples/s",
    "first_job_s": "s",
    "peak_rss_mb": "MB",
}


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--size", "tiny",
         "--seed", "5", "--seconds", "1", "--setup-samples", "1", *args],
        capture_output=True, text=True, timeout=600, cwd=cwd,
    )


def _result(res: subprocess.CompletedProcess) -> dict:
    assert res.returncode == 0, res.stderr[-4000:]
    return json.loads(res.stdout.strip().splitlines()[-1])


def _printed(stdout: str, name: str, unit: str) -> float:
    m = re.search(rf"^{re.escape(name)}\s+(\S+) {re.escape(unit)}$", stdout, re.M)
    assert m, f"{name} [{unit}] not printed"
    return float(m.group(1))


def test_benchmark_json_names_every_printed_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == tracing.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(wl.WORKLOADS)


@pytest.mark.parametrize("workload", sorted(wl.WORKLOADS))
def test_workload_end_to_end(workload):
    res = _run("--workload", workload)
    out = _result(res)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 3
    assert {k: v["unit"] for k, v in out["metrics"].items()} == E2E_UNITS
    for name, unit in PRINTED_UNITS.items():
        assert _printed(res.stdout, name, unit) > 0
    assert _printed(res.stdout, "failed_job_ratio", "ratio") == 0


@pytest.mark.parametrize("workload", sorted(wl.WORKLOADS))
def test_injected_wrong_feature_value_fails_jobs(workload):
    res = _run("--workload", workload, "--inject-fault")
    out = _result(res)
    assert not out["correct"] and out["failed"] == out["attempted"]
    assert _printed(res.stdout, "failed_job_ratio", "ratio") > 0


# Metrics that may read 0: spill and GC anywhere, and the layers that do not
# run on a workload (no encode or TFRecord code on the parquet workload).
MAY_BE_IDLE = {
    "examplegen_tfrecord": {"pit_join.spill_mb", "spark.gc_s"},
    "examplegen_parquet_hotkey": {
        "pit_join.spill_mb", "spark.gc_s", "encode.exec_s",
        "encode.rows_encoded_per_example_written", "encode.python_mb_in",
        "tfrecord.write_s", "tfrecord.write_jobs", "tfrecord.files_written",
        "tfrecord.read_s", "tfrecord.read_tasks",
    },
}


@pytest.mark.parametrize("workload", sorted(wl.WORKLOADS))
def test_traced_run_prints_every_layer_metric(workload):
    res = _run("--workload", workload, "--trace", "1")
    out = _result(res)
    assert out["correct"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == tracing.PER_LAYER
    for name, unit in tracing.PER_LAYER.items():
        value = _printed(res.stdout, name, unit)
        assert value > 0 or name in MAY_BE_IDLE[workload], name
    mix = re.search(r"^strategy_mix (.*)$", res.stdout, re.M)
    assert json.loads(mix.group(1)) == wl.WORKLOADS[workload].expected_strategies


def test_exits_nonzero_without_the_program():
    bare = os.path.join(ROOT, ".bench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        res = _run("--workload", "examplegen_tfrecord", cwd=bare)
        assert res.returncode != 0
        assert not res.stdout.strip()
    finally:
        shutil.rmtree(bare, ignore_errors=True)
