"""The Python plan build of the Landsat chain: how many py4j calls the
driver makes while it builds each key, and the process-wide Column
recipes (``util.recipe``) that keep that number down.

A steady chain pass is bound by the driver, and no Spark job runs while
a plan is built, so each py4j round trip of a build is wall time. Two
things set the count: PySpark's per-call origin capture, which
``session.get_spark`` turns off, and the chain's Column recipes, built
once per process instead of at every build."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from landsat_tair_data_pipeline_spark.registry import spark_queries
from landsat_tair_data_pipeline_spark.util import py4j_calls

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# py4j call commands per build of each landsat_chain key (perfbench's
# workload, in its order) in a warm session, about 1.25x the measured
# count. Before the origin capture was turned off and the recipes
# memoized, the builds took 2,065 / 129 / 481 / 831 calls.
BUILD_CALL_BUDGET = {
    "domain_pipeline_summary": 160,
    "map_concat_features": 32,
    "aug_explode_4x": 56,
    "agg_domain_grouped": 93,
}


def _build_calls(spark, sf_dir) -> dict[str, int]:
    """One perfbench-style pass: a new session after clearCache(), each
    key built in turn; the py4j calls of each build."""
    queries = spark_queries()
    spark.catalog.clearCache()
    sess = spark.newSession()
    calls = {}
    for key in BUILD_CALL_BUDGET:
        with py4j_calls(spark) as seen:
            queries[key](sess, sf_dir)
        calls[key] = seen["calls"]
    return calls


def test_chain_builds_stay_under_their_call_budget(spark, sf_dir):
    conf = spark.conf.get("spark.python.sql.dataFrameDebugging.enabled")
    assert conf == "false"
    _build_calls(spark, sf_dir)  # warm: the recipes are built here
    calls = _build_calls(spark, sf_dir)
    over = {k: (n, BUILD_CALL_BUDGET[k]) for k, n in calls.items()
            if n > BUILD_CALL_BUDGET[k]}
    assert not over, f"calls (count, budget) over budget: {over}; all: {calls}"


_RESTART_PROBE = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
import pyspark.errors.utils as origin
from landsat_tair_data_pipeline_spark.session import get_spark

spark = get_spark("recipe-restart")
import __spark_entry__  # noqa: F401
from landsat_tair_data_pipeline_spark.functions import features
from landsat_tair_data_pipeline_spark.registry import all_queries
from tests.oracle_check import compare

spec = all_queries()["map_concat_features"]
out = {"import_built_columns": origin._enable_debugging_cache is not None}
compare(spark, sys.argv[2], spec.fn, spec.oracle)
out["capture_after_build"] = origin.is_debugging_enabled()
first = spark.sparkContext
spark.stop()

spark = get_spark("recipe-restart")
out["new_context"] = spark.sparkContext is not first
hits = features._features.cache_info().hits
compare(spark, sys.argv[2], spec.fn, spec.oracle)
out["recipe_reused"] = features._features.cache_info().hits > hits
spark.stop()
print("PROBE " + json.dumps(out))
"""


def test_recipes_survive_a_session_restart(sf_dir):
    """In a fresh process: importing the package builds no Column (the
    first Column fixes PySpark's origin-capture setting for the whole
    process), and a memoized recipe built before ``spark.stop()`` still
    builds a query that matches its oracle in the next session."""
    out = subprocess.run(
        [sys.executable, "-c", _RESTART_PROBE, REPO, sf_dir],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=REPO,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("PROBE ")]
    assert lines, out.stderr[-3000:]
    assert json.loads(lines[-1][len("PROBE "):]) == {
        "import_built_columns": False,
        "capture_after_build": False,
        "new_context": True,
        "recipe_reused": True,
    }
