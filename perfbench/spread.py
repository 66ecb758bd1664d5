#!/usr/bin/env python3
"""Run-to-run steadiness of the end-to-end metrics.

    python3 perfbench/spread.py --runs 10 --sets 2 [--workload NAME ...]

Run from the repository root. For each workload, runs the benchmark
``--runs`` times per set, each time with another seed, and prints a
Markdown table per workload: each metric's median and quartiles per
set, its spread (quartile distance ÷ median, as
``statistics.quantiles(values, n=4)`` gives the quartiles) and, with two
sets, how much the second median is worse than the first — each beside
the metric's bound from BENCHMARK.json. Sets run one after the other,
as a parent and a child commit would.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload]
    cmd += ["--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.monotonic()
    out = subprocess.run(
        cmd, cwd=ROOT, capture_output=True, text=True, timeout=600, check=True
    )
    took = time.monotonic() - t0
    print(f"{workload} seed {seed}: run took {took:.1f} s", file=sys.stderr)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        raise RuntimeError(f"{workload} seed {seed}: outputs did not match")
    for line in out.stderr.splitlines():
        if line.startswith('{"passes"'):
            print(f"{workload} seed {seed} {line}", file=sys.stderr)
    return {k: v["value"] for k, v in result["metrics"].items()}


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def worse_by(first: float, second: float, better: str) -> float:
    """How much ``second`` is worse than ``first``, as a share of it."""
    if first == 0:
        return 0.0
    change = (second - first) / first
    return change if better == "lower" else -change


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2, choices=(1, 2))
    ap.add_argument("--workload", action="append")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = bench["end_to_end"]
    names = args.workload or [w["name"] for w in bench["workloads"]]
    report = {}
    for wl in names:
        sets = []
        for s in range(args.sets):
            seeds = range(1 + s * args.runs, 1 + (s + 1) * args.runs)
            runs = []
            for seed in seeds:
                runs.append(one_run(wl, seed, bench["run_seconds"]))
                print(f"{wl} set {s + 1} seed {seed}: {runs[-1]}", file=sys.stderr)
            sets.append(runs)
        report[wl] = sets
        print(f"\n### {wl}\n")
        head = "| metric | bound |"
        rule = "|---|---|"
        for s in range(args.sets):
            head += f" set {s + 1} median [q1, q3] | set {s + 1} spread |"
            rule += "---|---|"
        if args.sets == 2:
            head += " set 2 worse by |"
            rule += "---|"
        print(head + "\n" + rule)
        for m in metrics:
            row = f"| `{m['name']}` ({m['unit']}) | {m['bound']:.2f} |"
            meds = []
            for runs in sets:
                med, q1, q3, sp = spread([r[m["name"]] for r in runs])
                meds.append(med)
                row += f" {med:.4g} [{q1:.4g}, {q3:.4g}] | {sp:.3f} |"
            if args.sets == 2:
                row += f" {worse_by(meds[0], meds[1], m['better']):+.3f} |"
            print(row)
    print(json.dumps(report), file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
