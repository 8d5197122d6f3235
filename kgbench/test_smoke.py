"""Smoke tests of the benchmark itself, at the ``smoke`` scale.

    python3 -m pytest -q kgbench/test_smoke.py     # from the repository root

Each case starts the benchmark the way it is always invoked, in a fresh process
(about a minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]
# per-kind names a workload reports beside the gated ones
REPORTED = {
    "bulk_nt": ["build_p50_ms", "load_triples_per_s", "failed_op_ratio"],
    "serve_mix": ["point_p50_ms", "agg_p50_ms", "join_p50_ms", "update_p50_ms",
                  "setup_append_ms", "failed_op_ratio"],
}


def bench(*args, cwd=ROOT):
    out = subprocess.run(
        [sys.executable, "kgbench/run.py", "--scale", "smoke", "--seconds", "1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    return out, lines


def result_and_report(*args):
    out, lines = bench(*args)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(lines[-1]), json.loads(lines[-2])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_with_its_unit(workload):
    result, report = result_and_report("--workload", workload, "--seed", "3", "--trace", "0")
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    for name in REPORTED[workload]:
        assert report["metrics"][name]["unit"], name
    assert report["metrics"]["failed_op_ratio"]["value"] == 0
    for key in ("nproc", "master", "driver_memory", "steal_pct", "load1", "git_commit", "seed"):
        assert key in report["meta"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_expectation_fails_an_op(workload):
    result, report = result_and_report("--workload", workload, "--seed", "3", "--corrupt")
    assert not result["correct"] and result["failed"] >= 1
    assert report["metrics"]["failed_op_ratio"]["value"] > 0


def test_traced_run_reports_every_layer_metric():
    result, report = result_and_report("--workload", "bulk_nt", "--seed", "3", "--trace", "1")
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert result["correct"]
    assert set(report["ladder_ms"]) == {
        "scan", "fingerprint", "parse", "canon", "split_graph", "link", "shape", "build"}


def test_refuses_to_run_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "kgbench"), tmp_path / "kgbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out, lines = bench("--workload", WORKLOADS[0], "--seed", "1", "--trace", "0", cwd=tmp_path)
    assert out.returncode != 0 and not lines


def test_pinned_inputs_are_checked():
    sys.path.insert(0, ROOT)
    from kgbench import inputs

    rows = inputs.bulk_rows(5, inputs.SCALES["smoke"])
    assert inputs.check_digest("bulk_nt", 5, "smoke", rows) is None
    rows[0] = rows[0][:4] + (rows[0][4] + "\n",)
    assert "changed" in inputs.check_digest("bulk_nt", 5, "smoke", rows)
