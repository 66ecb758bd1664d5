#!/usr/bin/env python
"""A/B microbench: HEAD vs a pinned commit, back-to-back, per-key ratios.

Promotes the round-7 drift-adjudication protocol (NOTES.md "BENCH DRIFT
IS ENVIRONMENTAL") into a committed tool, so a cross-round wall-clock
gap can be attributed mechanically: extract the old commit into a
temporary directory (git archive), run the SAME microbench protocol
against both checkouts in fresh subprocesses (separate JVMs) on the
SAME machine minutes apart, and emit per-key ratios. ratio ≈ 1.0 on
every key → the cross-round gap is environmental; a key whose HEAD
time is >1.5x the pinned commit under identical conditions is a real
code regression.

Usage:
    python tools/ab_bench.py --base <commit> [--keys k1,k2,...]
        [--reps 3] [--sf-dir /root/testdata/sf0.1]
        [--out artifacts/ab_bench.json]

Keys missing from either side's registry are skipped with a note (the
pinned commit may predate an operator). Run on an idle machine — the
contention trap (NOTES r6) applies to both sides equally, but idle
numbers are the comparable ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Default panel: the same representative mix the r7 A/B used — cheap
# shuffly keys, window/agg shapes, and the heavy dedup/pipeline keys
# where a regression would matter most — plus two keys that spill at
# sf0.1 (equi-depth histogram, z-order layout stats), where a change to
# Tungsten pages or the memory manager shows first.
DEFAULT_KEYS = [
    "sample_stratified",
    "agg_salted_skew",
    "q9_profit_by_nation",
    "text_chunk_stride",
    "events_tumbling",
    "dedup_jaccard_pairs",
    "dedup_clusters",
    "llm_data_pipeline_v2",
    "llm_data_pipeline_v3",
    "agg_histogram_equidepth",
    "layout_zorder_stats",
]

# Self-contained runner executed once per side in its own process: the
# pinned commit predates this tool, so the runner is injected rather
# than imported from the checkout. It only assumes the checkout has
# the registry/session modules (true since round 1).
_RUNNER = r"""
import json, os, sys, time, gc
repo = sys.argv[1]
keys = sys.argv[2].split(",")
reps = int(sys.argv[3])
sf_dir = sys.argv[4]
sys.path.insert(0, repo)
os.chdir(repo)
from landsat_tair_data_pipeline_spark.registry import spark_queries
from landsat_tair_data_pipeline_spark.session import get_spark
spark = get_spark("landsat-tair-ab-bench")
spark.sparkContext.setLogLevel("ERROR")
qs = spark_queries()
def noop(df):
    df.write.format("noop").mode("overwrite").save()
try:
    noop(qs["q1_pricing_summary"](spark, sf_dir))  # warmup: JVM+codegen
except Exception as exc:
    print("AB WARMUP FAILURE: %s" % exc, file=sys.stderr)
out = {}
for name in keys:
    if name not in qs:
        out[name] = None  # key predates this commit
        continue
    best = None
    for _ in range(reps):
        gc.collect()
        t0 = time.perf_counter()
        try:
            noop(qs[name](spark, sf_dir))
        except Exception as exc:
            print("AB FAILURE %s: %s" % (name, str(exc)[:200]), file=sys.stderr)
            best = None
            break
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    out[name] = round(best, 3) if best is not None else None
spark.stop()
print("ABJSON:" + json.dumps(out))
"""


def _run_side(checkout: str, keys: list[str], reps: int, sf_dir: str) -> dict:
    with tempfile.NamedTemporaryFile(
        "w", suffix="_ab_runner.py", delete=False
    ) as f:
        f.write(_RUNNER)
        runner = f.name
    try:
        proc = subprocess.run(
            [sys.executable, runner, checkout, ",".join(keys), str(reps), sf_dir],
            capture_output=True,
            text=True,
            timeout=3600,
        )
        for line in proc.stdout.splitlines():
            if line.startswith("ABJSON:"):
                times = json.loads(line[len("ABJSON:") :])
                if None in times.values():
                    # a key that raised reads null: show why
                    for err in proc.stderr.splitlines():
                        if err.startswith("AB FAILURE"):
                            print(f"{checkout}: {err}", file=sys.stderr)
                return times
        raise RuntimeError(
            f"no ABJSON line from {checkout}; stderr tail: {proc.stderr[-500:]}"
        )
    finally:
        os.unlink(runner)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True, help="commit to compare HEAD against")
    ap.add_argument("--keys", default=",".join(DEFAULT_KEYS))
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument("--out", default=None, help="write the JSON artifact here")
    args = ap.parse_args()
    keys = [k for k in args.keys.split(",") if k]

    sha = subprocess.run(
        ["git", "-C", REPO, "rev-parse", f"{args.base}^{{commit}}"],
        check=True,
        capture_output=True,
        text=True,
    ).stdout.strip()
    # the base checkout lives outside the repository, so nothing is
    # registered in it or left behind there
    wt = tempfile.mkdtemp(prefix=f"ab_{sha[:12]}_")
    try:
        tar = subprocess.run(
            ["git", "-C", REPO, "archive", sha], check=True, capture_output=True
        ).stdout
        subprocess.run(["tar", "-x", "-C", wt], input=tar, check=True)
        # base first, HEAD second, back to back — same machine state
        base_t = _run_side(wt, keys, args.reps, args.sf_dir)
        head_t = _run_side(REPO, keys, args.reps, args.sf_dir)
    finally:
        shutil.rmtree(wt, ignore_errors=True)

    rows = {}
    for k in keys:
        b, h = base_t.get(k), head_t.get(k)
        rows[k] = {
            "base_sec": b,
            "head_sec": h,
            "ratio_head_over_base": round(h / b, 3) if b and h else None,
        }
    result = {
        "protocol": "min-of-%d, idle machine, base-then-head back-to-back" % args.reps,
        "base_commit": args.base,
        "sf_dir": args.sf_dir,
        "keys": rows,
    }
    out = json.dumps(result, indent=2)
    print(out)
    if args.out:
        with open(args.out, "w") as f:
            f.write(out + "\n")


if __name__ == "__main__":
    main()
