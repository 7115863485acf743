#!/usr/bin/env python3
"""Parent-versus-change comparison for performance claims.

    python3 perfbench/compare.py --parent ../parent --change . --claim pass_s
    python3 perfbench/compare.py --results .bench_build/perfbench/compare.json --claim pass_s

``--parent`` and ``--change`` are two checkouts.  For every workload in
the change's ``BENCHMARK.json`` the helper runs ten pairs (seeds 1 to
10), each pair running the benchmark command once in each checkout
with the same seed and the declared run length, and alternating which
side runs first.  Results are saved (``--out``) and can be re-analysed
with ``--results``.

The decision rule, per workload and end-to-end metric:

* ``gain``: the change is better in at least 9 of 10 pairs (ties count for
  neither side), and the medians differ by more than the parent's
  interquartile spread;
* ``regression``: the change's median is worse than the parent's by more
  than the metric's bound;
* ``unresolved``: either side's interquartile spread, as a share of its
  median, exceeds the bound, unless every change run beats every parent
  run and the medians differ by more than the parent's interquartile
  spread (then ``gain``);
* ``no change`` otherwise.

A gain does not count when the change failed more operations than the
parent.  The table has one row per workload: the claimed metric's
medians and quartiles, wins, verdict, and any other end-to-end metric
that regressed or is unresolved.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run_once(checkout: str, command: list[str], workload: str, seed: int, seconds: int) -> dict:
    proc = subprocess.run(
        [*command, "--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout,
        capture_output=True,
        text=True,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{checkout}: {workload} seed {seed} exited {proc.returncode}\n{proc.stderr[-2000:]}")
    return json.loads(lines[-1])


PAIRS = 10


def collect(parent: str, change: str, bench: dict) -> dict:
    out: dict = {"bench": bench, "runs": {}}
    for w in (w["name"] for w in bench["workloads"]):
        rows = out["runs"][w] = []
        for i in range(PAIRS):
            seed = i + 1
            order = [("parent", parent), ("change", change)]
            if i % 2:
                order.reverse()
            row = {"seed": seed, "first": order[0][0]}
            for side, checkout in order:
                row[side] = run_once(checkout, bench["command"], w, seed, bench["run_seconds"])
            rows.append(row)
            print(f"{w} pair {i + 1}/{PAIRS} done", file=sys.stderr)
    return out


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(metric: dict, rows: list[dict]) -> dict:
    name, bound = metric["name"], metric["bound"]
    sign = 1.0 if metric["better"] == "lower" else -1.0  # sign * value: lower is better
    p = [r["parent"]["metrics"][name]["value"] for r in rows]
    c = [r["change"]["metrics"][name]["value"] for r in rows]
    wins = sum(sign * cv < sign * pv for pv, cv in zip(p, c))
    p1, pm, p3 = _quartiles(p)
    c1, cm, c3 = _quartiles(c)
    worse_by = sign * (cm - pm) / pm
    all_better = max(sign * x for x in c) < min(sign * x for x in p)
    failed_more = sum(r["change"]["failed"] for r in rows) > sum(r["parent"]["failed"] for r in rows)
    beyond_spread = abs(cm - pm) > p3 - p1 and worse_by < 0 and not failed_more
    if (p3 - p1) / pm > bound or (c3 - c1) / cm > bound:
        v = "gain" if all_better and beyond_spread else "unresolved"
    elif wins >= 0.9 * len(rows) and beyond_spread:
        v = "gain"
    elif worse_by > bound:
        v = "regression"
    else:
        v = "no change"
    return {
        "parent": (p1, pm, p3),
        "change": (c1, cm, c3),
        "wins": wins,
        "pairs": len(rows),
        "verdict": v,
    }


def report(results: dict, claim: str) -> list[str]:
    bench = results["bench"]
    lines = [f"{'workload':18s} {'parent median [q1, q3]':>30s} {'change median [q1, q3]':>30s}  wins   verdict     other metrics"]
    for w, rows in results["runs"].items():
        verdicts = {m["name"]: verdict(m, rows) for m in bench["end_to_end"]}
        v = verdicts[claim]
        others = ", ".join(
            f"{n}: {o['verdict']}"
            for n, o in verdicts.items()
            if n != claim and o["verdict"] in ("regression", "unresolved")
        )
        fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"  # noqa: E731
        lines.append(
            f"{w:18s} {fmt(v['parent']):>30s} {fmt(v['change']):>30s}  {v['wins']:2d}/{v['pairs']:<2d} "
            f"{v['verdict']:11s} {others or '-'}"
        )
    return lines


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", help="checkout of the parent commit")
    ap.add_argument("--change", default=".", help="checkout of the change (default: .)")
    ap.add_argument("--results", help="re-analyse a saved results file instead of running")
    ap.add_argument("--claim", default="pass_s", help="end-to-end metric the claim is about")
    ap.add_argument("--out", help="where to save the results (default under .bench_build/)")
    args = ap.parse_args(argv)

    if args.results:
        with open(args.results) as f:
            results = json.load(f)
        bench = results["bench"]
    else:
        if not args.parent:
            ap.error("--parent is required unless --results is given")
        with open(os.path.join(args.change, "BENCHMARK.json")) as f:
            bench = json.load(f)
    if args.claim not in {m["name"] for m in bench["end_to_end"]}:
        ap.error(f"--claim must be an end-to-end metric of BENCHMARK.json, not {args.claim!r}")
    if not args.results:
        results = collect(args.parent, args.change, bench)
        out = args.out or os.path.join(
            args.change, ".bench_build", "perfbench", f"compare-{int(time.time())}.json"
        )
        os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
        with open(out, "w") as f:
            json.dump(results, f)
        print(f"results saved to {out}", file=sys.stderr)
    print("\n".join(report(results, args.claim)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
