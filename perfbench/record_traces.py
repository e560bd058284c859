#!/usr/bin/env python3
"""Record the committed per-query traces under ``perfbench/traces``.

    python3 perfbench/record_traces.py [--seed N]

For each workload: one untraced run and one traced run with the same seed,
each in its own process. The traced run's record (per-query builder / plan
/ exec split, job, stage and task counts, ``op.*`` counters, spans) is
written to ``perfbench/traces/<workload>.json`` together with the untraced
``wall_s`` and the tracing overhead, traced minus untraced pass wall time.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402


def _run(workload: str, seed: int, trace: int) -> dict:
    cmd = [
        sys.executable,
        "perfbench/run.py",
        "--workload", workload,
        "--seed", str(seed),
        "--seconds", "1",
        "--trace", str(trace),
    ]  # fmt: skip
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
    for workload in WORKLOADS:
        untraced = _run(workload, args.seed, 0)["metrics"]["wall_s"]["value"]
        _run(workload, args.seed, 1)
        src = os.path.join(HERE, ".out", f"trace-{workload}-seed{args.seed}.json")
        with open(src) as f:
            trace = json.load(f)
        trace["untraced_wall_s"] = untraced
        trace["tracing_overhead_s"] = trace["traced_wall_s"] - untraced
        dst = os.path.join(HERE, "traces", f"{workload}.json")
        with open(dst, "w") as f:
            json.dump(trace, f, indent=1)
            f.write("\n")
        print(
            f"{workload}: traced {trace['traced_wall_s']:.2f} s, untraced "
            f"{untraced:.2f} s -> {os.path.relpath(dst, ROOT)}",
            flush=True,
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
