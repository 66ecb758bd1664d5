#!/usr/bin/env python
"""Per-key optimization profiler (optimization round tooling).

For each named registry key: capture `.explain("formatted")` to
plans/<tag>/<key>_<suffix>.txt, then time `reps` noop-sink executions
(guide §1.4) with the job labelled (§1.5), reporting min/median and
the per-rep list. Plan-shape counters (Exchange count, join strategies,
Python-eval nodes) print alongside so before/after claims are checkable
without a Spark UI. After each key's reps, the driver's storage memory
is read: `storage_mb` is all of it, `pinned_mb` what cached RDD blocks
do not account for (broadcast values, mostly). `build_py4j_calls` is
the py4j call commands of the key's last plan build (`util.py4j_calls`,
the counter of tests/test_build_round_trips.py). `lambda_lookups`
counts the element_at lookups inside higher-order-function lambda
bodies: a lambda body runs whole for every element, so a metadata map
lookup written there runs once per pixel (tests/test_plan_quality.py
pins the Landsat conversion at 0).

Usage:
    python tools/profile_key.py --keys k1,k2 [--suffix before]
        [--sf-dir /root/testdata/sf0.1] [--reps 3] [--tag r15]
        [--plans] [--out artifacts/profile.json]
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import re
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def lambda_bodies(plan: str) -> list[str]:
    """The outermost ``lambdafunction(...)`` spans of a plan string,
    nested lambdas included in their parent's span."""
    bodies, pos = [], 0
    while (start := plan.find("lambdafunction(", pos)) != -1:
        depth = 0
        for end in range(plan.index("(", start), len(plan)):
            depth += {"(": 1, ")": -1}.get(plan[end], 0)
            if depth == 0:
                break
        bodies.append(plan[start : end + 1])
        pos = end + 1
    return bodies


def plan_counters(plan: str) -> dict:
    c = {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "sort_merge_joins": len(re.findall(r"\bSortMergeJoin\b", plan)),
        "broadcast_hash_joins": len(re.findall(r"\bBroadcastHashJoin\b", plan)),
        "shuffled_hash_joins": len(re.findall(r"\bShuffledHashJoin\b", plan)),
        "nested_loop_joins": len(re.findall(r"\bBroadcastNestedLoopJoin\b", plan)),
        "cartesian": len(re.findall(r"\bCartesianProduct\b", plan)),
        "sorts": len(re.findall(r"\bSort\b", plan)),
        "windows": len(re.findall(r"\bWindow\b", plan)),
        "batch_eval_python": len(re.findall(r"\bBatchEvalPython\b", plan)),
        "arrow_eval_python": len(re.findall(r"\bArrowEvalPython\b", plan)),
        "map_in_arrow_pandas": len(re.findall(r"\bMapInPandas\b|\bMapInArrow\b|\bFlatMapGroupsInPandas\b", plan)),
        "in_memory_scans": len(re.findall(r"\bInMemoryTableScan\b", plan)),
        "scans": len(re.findall(r"\bScan parquet\b", plan)),
        "lambda_lookups": sum(b.count("element_at(") for b in lambda_bodies(plan)),
    }
    return c


def storage_readings(spark) -> dict:
    """Driver storage memory in use, all of it and the part held by
    something other than cached RDD blocks, in MB."""
    sc = spark.sparkContext
    used = sc._jvm.org.apache.spark.SparkEnv.get().memoryManager().storageMemoryUsed()
    infos = sc._jsc.sc().getRDDStorageInfo()
    cached = sum(i.memSize() for i in infos)
    return {
        "storage_mb": round(used / 1e6, 3),
        "pinned_mb": round((used - cached) / 1e6, 3),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--keys", required=True)
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--tag", default="r15")
    ap.add_argument("--plans", action="store_true", help="write plan files")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from landsat_tair_data_pipeline_spark.registry import spark_queries
    from landsat_tair_data_pipeline_spark.session import get_spark
    from landsat_tair_data_pipeline_spark.util import py4j_calls

    spark = get_spark("profile-key")
    spark.sparkContext.setLogLevel("ERROR")
    qs = spark_queries()
    keys = [k for k in (s.strip() for s in args.keys.split(",")) if k]
    unknown = [k for k in keys if k not in qs]
    if unknown:
        sys.exit(f"unknown keys: {unknown}")

    plans_dir = os.path.join(REPO, "plans", args.tag)
    os.makedirs(plans_dir, exist_ok=True)

    # warm the pools the bench warms (JVM codegen, Python workers)
    try:
        qs["q1_pricing_summary"](spark, args.sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        spark.range(64).repartition(32).mapInPandas(
            lambda it: (p for p in it), schema="id long"
        ).write.format("noop").mode("overwrite").save()
    except Exception as exc:
        print(f"warmup failed: {exc}", file=sys.stderr)

    results: dict[str, dict] = {}
    for name in keys:
        df = qs[name](spark, args.sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), "formatted"
        )
        if args.plans:
            pf = os.path.join(plans_dir, f"{name}_{args.suffix}.txt")
            with open(pf, "w") as fh:
                fh.write(plan)
        rep_times = []
        for i in range(args.reps):
            gc.collect()
            spark.sparkContext.setJobDescription(f"profile:{name}#{i}")
            t0 = time.perf_counter()
            with py4j_calls(spark) as build:
                rep = qs[name](spark, args.sf_dir)
            rep.write.format("noop").mode("overwrite").save()
            rep_times.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        results[name] = {
            "reps": rep_times,
            "min": min(rep_times),
            "median": round(statistics.median(rep_times), 3),
            "plan": plan_counters(plan),
            "build_py4j_calls": build["calls"],
            **storage_readings(spark),
        }
        print(
            f"{name:34s} min={min(rep_times):7.3f} med={results[name]['median']:7.3f} "
            f"storage={results[name]['storage_mb']}MB "
            f"pinned={results[name]['pinned_mb']}MB "
            f"build_calls={build['calls']} "
            f"reps={rep_times} {results[name]['plan']}",
            flush=True,
        )
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(
                {"sf_dir": args.sf_dir, "suffix": args.suffix, "results": results},
                fh,
                indent=1,
            )
    spark.stop()


if __name__ == "__main__":
    main()
