"""Tests of the benchmark itself: its inputs, its pass isolation, its
output checks and its accounting.

    python -m pytest perfbench/tests -q

The Spark tests start one local session (about a minute in all).
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import landsat_fixtures  # noqa: E402
from perfbench import run  # noqa: E402
from perfbench.run import (  # noqa: E402
    WORKLOADS,
    Bench,
    RAMP_PASSES,
    PassResult,
    ShortRun,
    measure,
    storage_bytes,
    success_ratio,
)

CHAIN_STEADY = WORKLOADS["landsat_chain"].min_steady
from perfbench.trace import Span, innermost_span  # noqa: E402


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = f.read()
    return out


def test_fixtures_follow_the_seed(tmp_path):
    dirs = {}
    for label, seed in (("a", 7), ("b", 7), ("c", 8)):
        dirs[label] = str(tmp_path / label)
        os.makedirs(dirs[label])
        landsat_fixtures.generate(dirs[label], seed, n_generated=6)
    a, b, c = (_tree_bytes(dirs[k]) for k in "abc")
    assert a == b
    assert a.keys() == c.keys()
    assert a != c
    # the seed moves values, not the amount of work
    assert a["scene_pixels.parquet"] != c["scene_pixels.parquet"]
    import pyarrow.parquet as pq

    rows = [
        pq.read_metadata(os.path.join(dirs[k], "scene_pixels.parquet")).num_rows
        for k in "ac"
    ]
    assert rows[0] == rows[1]


def _fake_pass(walls, fail_at=()):
    def run_pass(index, role, traced):
        ok = index not in fail_at
        return PassResult(index, role, traced, ok, walls[min(index, len(walls) - 1)], 1.0)

    return run_pass


def test_protocol_skips_the_ramp():
    walls = [20.0, 10.0, 8.0, 6.0, 5.9, 6.1, 6.0, 5.8]
    results = measure(_fake_pass(walls), seconds=0, min_steady=CHAIN_STEADY)
    roles = [r.role for r in results]
    assert roles == ["cold"] + ["ramp"] * RAMP_PASSES + ["steady"] * CHAIN_STEADY


def test_failed_pass_lowers_success_ratio_and_leaves_timings():
    walls = [20.0, 10.0, 8.0, 6.0, 5.9, 6.1, 6.0, 5.8, 5.9]
    # a failed ramp pass does not count towards the ramp
    fail_at = {1, RAMP_PASSES + 3}
    results = measure(
        _fake_pass(walls, fail_at=fail_at), seconds=0, min_steady=CHAIN_STEADY
    )
    assert [r.role for r in results].count("ramp") == RAMP_PASSES + 1
    assert success_ratio(results) == pytest.approx(1 - 2 / len(results))
    steady_ok = [r for r in results if r.role == "steady" and r.ok]
    assert len(steady_ok) == CHAIN_STEADY
    assert all(r.index not in fail_at for r in steady_ok)


class _Clock:
    """Stands in for the ``time`` module: each pass advances it."""

    def __init__(self):
        self.now = 0.0

    def monotonic(self):
        return self.now


def test_run_cut_in_the_ramp_gives_no_result(monkeypatch):
    clock = _Clock()
    monkeypatch.setattr(run, "time", clock)
    walls = [20.0, 10.0, 8.0, 6.0, 5.9, 6.1, 6.0, 5.8]

    def run_pass(index, role, traced):
        clock.now += walls[index]
        return PassResult(index, role, traced, True, walls[index], 1.0)

    # the cut falls after the second ramp pass: no steady pass ran
    with pytest.raises(ShortRun):
        measure(run_pass, seconds=0, min_steady=CHAIN_STEADY, stop_at=35.0)


def test_stop_descendants_waits_for_orphans_too():
    # a child that ignores SIGTERM and an orphaned grandchild, as a
    # Python-worker daemon becomes when its JVM exits first
    code = f"""
import subprocess, sys
sys.path.insert(0, {ROOT!r})
from perfbench import run
run.become_subreaper()
subprocess.Popen(["sh", "-c", "trap '' TERM; sleep 60"])
subprocess.run(["sh", "-c", "sleep 60 &"], check=True)
assert len(run.descendants()) >= 2
run.stop_descendants(grace=0.5)
print(len(run.descendants()))
"""
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=60
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "0"


def test_job_goes_to_innermost_open_span():
    spans = [
        Span("registry", "build:k", 0.0, 10.0, depth=0),
        Span("sources", "sources.landsat.scene_metadata", 1.0, 2.0, depth=1, parent=0),
        Span("functions", "functions.features.assemble_features", 3.0, 4.0, depth=1, parent=0),
    ]
    assert innermost_span(spans, 1.5) == 1
    assert innermost_span(spans, 2.5) == 0
    assert innermost_span(spans, 11.0) == -1


@pytest.fixture(scope="module")
def stream_bench(tmp_path_factory):
    bench = Bench("stream_ingest", seed=1, trace=False, work=str(tmp_path_factory.mktemp("w")))
    bench.prepare()
    bench.setup()
    from perfbench import expect

    bench.expected = expect.expected(
        bench.registry.oracle_sqls(), bench.wl.keys, bench.sf
    )
    yield bench
    bench.spark.stop()


def test_storage_is_empty_after_clear_cache(stream_bench):
    spark = stream_bench.spark
    df = spark.range(100_000).selectExpr("id", "id * 2 AS v").persist()
    assert df.count() == 100_000
    assert sum(storage_bytes(spark)) > 0
    spark.catalog.clearCache()
    assert storage_bytes(spark) == (0, 0)


def test_every_stream_pass_writes_sink_bytes(stream_bench):
    results = [stream_bench.run_pass(i, "steady", False) for i in range(2)]
    assert all(r.ok for r in results), [r.error for r in results]
    assert all(r.extra["sink_bytes"] > 0 for r in results)


def test_mismatching_pass_is_counted_failed(stream_bench):
    key = "stream_stateful_user_totals"
    good = stream_bench.runners[key]
    stream_bench.runners[key] = lambda spark, sf: spark.range(1)
    try:
        bad = stream_bench.run_pass(10, "steady", False)
    finally:
        stream_bench.runners[key] = good
    ok = stream_bench.run_pass(11, "steady", False)
    assert not bad.ok and key in bad.error
    assert ok.ok
    assert success_ratio([bad, ok]) == 0.5
