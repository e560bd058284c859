#!/usr/bin/env python3
"""Smoke test of the benchmark harness.

    python3 perfbench/selftest.py

Checks, in order:

1. ``BENCHMARK.json`` names the same workloads and metrics, with the same
   units, as ``perfbench/workloads.py``.
2. In a directory holding only ``BENCHMARK.json`` and ``perfbench/``, the
   harness exits non-zero without printing a result.
3. Every workload, run once untraced and once traced on the sf0.001
   fixture, prints every named metric with its unit and has no failed
   query (``failed_frac`` 0).

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [
        sys.executable,
        "perfbench/run.py",
        "--workload", workload,
        "--seed", "1",
        "--seconds", "1",
        "--trace", str(trace),
        "--scale", "0.001",
    ]  # fmt: skip
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_manifest() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS), "workloads"
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert e2e == {n: u for n, u, _ in END_TO_END}, f"end_to_end: {e2e}"
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert layer == {n: u for n, u, *_ in PER_LAYER}, "per_layer"


def check_bare_directory() -> None:
    with tempfile.TemporaryDirectory() as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(
            HERE,
            os.path.join(bare, "perfbench"),
            ignore=shutil.ignore_patterns(".cache", ".scratch", ".out", "__pycache__"),
        )
        p = _run(bare, next(iter(WORKLOADS)), 0)
        assert p.returncode != 0, "harness succeeded without the engine package"
        assert '"metrics"' not in p.stdout, "harness printed a result"


def check_workload(workload: str, trace: int) -> None:
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}"
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    expected = (
        {n: u for n, u, *_ in PER_LAYER} if trace else {n: u for n, u, _ in END_TO_END}
    )
    got = {n: m["unit"] for n, m in result["metrics"].items()}
    assert got == expected, f"{workload} trace={trace}: metrics {got}"
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), f"{name}: {m}"
    failed_frac = result["failed"] / result["attempted"]
    assert result["correct"] and failed_frac == 0, (
        f"{workload} trace={trace}: failed_frac {failed_frac}\n{p.stderr[-3000:]}"
    )
    print(f"ok  {workload} trace={trace}: {result['attempted']} queries", flush=True)


def main() -> int:
    check_manifest()
    print("ok  BENCHMARK.json matches workloads.py", flush=True)
    check_bare_directory()
    print("ok  bare directory exits non-zero", flush=True)
    for workload in WORKLOADS:
        for trace in (0, 1):
            check_workload(workload, trace)
    return 0


if __name__ == "__main__":
    sys.exit(main())
