"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 perfbench/smoke_test.py        # or: python3 -m pytest perfbench/smoke_test.py

For every workload in BENCHMARK.json, a ``--trace 0`` run must print
every end-to-end metric and a ``--trace 1`` run every per-layer metric,
each with the unit BENCHMARK.json names, and exit 0 with all checks
passed.  A copy of the benchmark without the engine beside it must exit
non-zero without printing a result.  Run from the repository root.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "1",
                             "--seconds", "1", "--trace", str(trace),
                             "--size", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=600)


def _result(proc: subprocess.CompletedProcess) -> dict:
    lines = proc.stdout.strip().splitlines()
    assert lines, f"no output; stderr tail:\n{proc.stderr[-2000:]}"
    return json.loads(lines[-1])


def check_workload(workload: str) -> None:
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        proc = _run(ROOT, workload, trace)
        assert proc.returncode == 0, \
            f"{workload} trace={trace} rc={proc.returncode}:\n" \
            f"{proc.stderr[-3000:]}"
        res = _result(proc)
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] is True and res["failed"] == 0
        assert isinstance(res["attempted"], int) and res["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in SPEC[key]}
        got = res["metrics"]
        assert set(got) == set(want), \
            f"{workload} trace={trace}: missing {set(want) - set(got)}, " \
            f"extra {set(got) - set(want)}"
        for name, unit in want.items():
            assert got[name]["unit"] == unit, (name, got[name])
            assert isinstance(got[name]["value"], (int, float)), name
            if key == "end_to_end":
                assert got[name]["value"] > 0, (workload, name, got[name])


def check_without_engine() -> None:
    """Only BENCHMARK.json and the benchmark's own files: must fail."""
    bare = os.path.join(ROOT, ".perfbench_work", "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in SPEC["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        cmd = SPEC["command"] + ["--workload",
                                 SPEC["workloads"][0]["name"], "--seed",
                                 "1", "--seconds", "1", "--trace", "0"]
        proc = subprocess.run(cmd, cwd=bare, capture_output=True, text=True,
                              timeout=180, env=env)
        assert proc.returncode != 0, "ran without the engine"
        assert '"metrics"' not in proc.stdout, proc.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def test_without_engine():
    check_without_engine()


def test_workloads():
    for w in SPEC["workloads"]:
        check_workload(w["name"])


if __name__ == "__main__":
    check_without_engine()
    print("no-engine checkout: refused", flush=True)
    for w in SPEC["workloads"]:
        check_workload(w["name"])
        print(f"{w['name']}: every metric printed with its unit", flush=True)
    sys.exit(0)
