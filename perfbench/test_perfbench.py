"""Self-test of the benchmark at sf0.001 (50 base docs, one replica).

One operation per workload (``--seconds 0``), untraced and traced, so the
command, the output checks and the event-log parser are exercised without
paying for full runs (a few minutes in all on 4 cores):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)

# one per-layer metric per workload that only a run of its layer makes > 0
LAYER_PROBE = {
    "flagship_join_bin": ("spatial.join.matched", "checkpoint.unit_s_p50"),
    "knn_geo_halo": ("spatial.knn.python_s", "spatial.knn.halo_factor"),
    "cli_two_datasets": ("cli.jobs", "plans.pipeline.build_s"),
    "checkpoint_units": ("checkpoint.unit_s_p50", "operators.selection.counter_jobs"),
}


def run(cwd, workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "0", "--trace", str(trace), "--tiny"]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(LAYER_PROBE))
def test_untraced_one_op(tmp_path, workload):
    out = run(tmp_path, workload, 0)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert set(out["metrics"]) == {m["name"] for m in BENCH["end_to_end"]}
    assert all(m["value"] > 0 for m in out["metrics"].values())


@pytest.mark.parametrize("workload", sorted(LAYER_PROBE))
def test_traced_one_op(tmp_path, workload):
    out = run(tmp_path, workload, 1)
    assert out["correct"] and out["failed"] == 0
    assert set(out["metrics"]) == {m["name"] for m in BENCH["per_layer"]}
    for name in LAYER_PROBE[workload]:
        assert out["metrics"][name]["value"] > 0, name


def test_benchmarked_workloads_are_known():
    sys.path.insert(0, HERE)
    import run as bench

    assert {w["name"] for w in BENCH["workloads"]} <= set(bench.WORKLOADS)


def test_fails_without_the_package(tmp_path):
    """In a directory holding only the benchmark it exits non-zero and
    prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", BENCH["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
