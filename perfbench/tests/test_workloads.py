"""Each workload end to end at the small size: the run checks its own
outputs, prints every metric BENCHMARK.json names, and a directory that
holds only the benchmark fails fast without a result.

These build the program on first use (about a minute) and then take
well under a minute per workload."""
import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), "..", ".."))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, trace, cwd=ROOT, timeout=300):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", "3", "--seconds", "2", "--trace", str(trace),
                        "--size", "small"],
                       cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=timeout)
    return p


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_runs_and_checks(workload, trace):
    p = run(workload, trace)
    assert p.returncode == 0, p.stderr[-2000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"], p.stderr[-2000:]
    assert out["failed"] == 0 and out["attempted"] >= 1
    names = [m["name"] for m in SPEC["end_to_end" if trace == 0 else "per_layer"]]
    assert sorted(out["metrics"]) == sorted(names)
    if trace == 0:
        assert all(v["value"] > 0 for v in out["metrics"].values()), out["metrics"]


def test_benchmark_alone_fails(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
    p = run("replay", 0, cwd=str(tmp_path), timeout=180)
    assert p.returncode != 0
    assert not p.stdout.strip()
