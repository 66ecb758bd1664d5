#!/usr/bin/env python
"""Stage-level timing of a curation pipeline (dedup.py's stage lists).

Runs each entry of a stage list the way dedup._run_stages does —
stage, then its cut — and forces the frame with a noop write, so each
line is that stage's own cost (upstream layers are already persisted
or checkpointed). The tail (funnel or chunk summary) is timed last.

Usage:
    python tools/profile_stages.py [--stages _V8_STAGES] [--tail _bpe_tail]
        [--sf-dir SF_DIR]

The defaults are llm_data_pipeline_v9's stage list and tail; the sf
directory defaults to $SPARK_GRAFT_SF_DIR.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def timed(label: str, build) -> object:
    t0 = time.perf_counter()
    df = build()
    df.write.format("noop").mode("overwrite").save()
    print(f"{label:28s} {time.perf_counter() - t0:7.3f}s", flush=True)
    return df


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--stages", default="_V8_STAGES")
    ap.add_argument("--tail", default="_bpe_tail")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    args = ap.parse_args()
    if not args.sf_dir:
        ap.error("--sf-dir (or SPARK_GRAFT_SF_DIR) is required")

    from landsat_tair_data_pipeline_spark.operators import dedup as D
    from landsat_tair_data_pipeline_spark.session import get_spark
    from landsat_tair_data_pipeline_spark.sources.tables import table

    spark = get_spark("profile-stages")
    spark.sparkContext.setLogLevel("ERROR")
    sf = args.sf_dir
    t0 = time.perf_counter()
    docs = table(spark, sf, "documents").select("doc_id", "source", "text")
    layers = [("n_raw", docs)]
    for name, stage, cut in getattr(D, args.stages):
        df = timed(name, lambda: cut(stage(spark, sf, layers[-1][1])))
        layers.append((name, df))
    timed(f"tail {args.tail}", lambda: getattr(D, args.tail)(layers))
    print(f"{'TOTAL':28s} {time.perf_counter() - t0:7.3f}s")
    spark.stop()


if __name__ == "__main__":
    main()
