#!/usr/bin/env python3
"""Quick self-check of the benchmark.

    python3 perfbench/selfcheck.py

Runs every workload of ``perfbench/workloads.py`` for one timed pass on
the smallest input tables (``perfbench/data/sf0.001``), untraced and
traced, and asserts that each run exits 0, passes its output checks and
prints exactly the end-to-end (untraced) or per-layer (traced) metrics
that ``BENCHMARK.json`` declares, each with its declared unit.  Takes a
few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402


def main() -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    problems = []
    for workload in WORKLOADS:
        for trace in (0, 1):
            label = f"{workload} --trace {trace}"
            errs = check_run(bench["command"], workload, trace, declared[trace])
            print(f"{label}: {'FAILED' if errs else 'ok'}", flush=True)
            problems += [f"{label}: {e}" for e in errs]
    for p in problems:
        print(p, file=sys.stderr)
    return 1 if problems else 0


def check_run(command: list[str], workload: str, trace: int, declared: dict[str, str]) -> list[str]:
    cmd = [*command, "--workload", workload, "--seed", "1", "--seconds", "1",
           "--trace", str(trace), "--data", "sf0.001"]
    proc = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return [f"exit {proc.returncode}\n{proc.stderr[-1500:]}"]
    result = json.loads(lines[-1])
    errs = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"result keys {sorted(result)}")
    if not result.get("correct") or result.get("failed"):
        errs.append(f"{result.get('failed')} of {result.get('attempted')} operations failed")
    got = {k: v["unit"] for k, v in result.get("metrics", {}).items()}
    if got != declared:
        missing = sorted(set(declared) - set(got))
        extra = sorted(set(got) - set(declared))
        units = sorted(k for k in set(got) & set(declared) if got[k] != declared[k])
        errs.append(f"missing {missing}, undeclared {extra}, wrong unit {units}")
    return errs


if __name__ == "__main__":
    sys.exit(main())
