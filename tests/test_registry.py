"""Registry invariants. The driver's correctness gate records only the
FIRST 50 registry keys in insertion order (NOTES.md), so the front
composition is load-bearing: a module edit that reorders the merge or
grows a QUERIES dict above the cut silently swaps which keys get
driver evidence. Pin it.
"""

from __future__ import annotations

import os

from landsat_tair_data_pipeline_spark.registry import _DRIVER_FRONT, all_queries


def test_front_window_is_exactly_the_declared_50():
    qs = all_queries()
    assert list(qs)[:50] == list(_DRIVER_FRONT)
    assert len(_DRIVER_FRONT) == len(set(_DRIVER_FRONT)) == 50


def test_spec_names_match_keys():
    for key, spec in all_queries().items():
        assert spec.name == key, (key, spec.name)


def test_oracle_coverage_floor():
    """Most of the registry must stay hash-checkable; rows-only is the
    documented exception list, not a drift direction."""
    qs = all_queries()
    oracled = sum(1 for s in qs.values() if s.oracle)
    assert len(qs) >= 135
    assert oracled / len(qs) > 0.9, (oracled, len(qs))


def test_every_front_key_runs_under_driver_entrypoint():
    """__spark_entry__ exposes exactly the registry (same dict), and
    every oracle key is a subset of queries."""
    import __spark_entry__ as e

    q, o = e.queries(), e.oracle_sql()
    assert set(o) <= set(q)
    assert set(q) == set(all_queries())


def test_run_query_cli_lists_every_key():
    """The CLI surface stays in sync with the registry."""
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, "tools/run_query.py", "--list"],
        capture_output=True,
        text=True,
        check=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ).stdout
    listed = {ln.split()[0] for ln in out.strip().splitlines() if ln.strip()}
    assert listed == set(all_queries())


def test_operators_md_is_fresh():
    """OPERATORS.md is generated from the registry; a registry change
    without regenerating it ships a stale user-facing inventory."""
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tools_dir = os.path.join(root, "tools")
    sys.path.insert(0, tools_dir)
    try:
        import gen_operators_md
    finally:
        # remove by value: gen_operators_md itself inserts repo_root at
        # index 0 on first import, so pop(0) would evict the wrong entry
        # and leave tools/ importable for the rest of the session
        sys.path.remove(tools_dir)
    with open(os.path.join(root, "OPERATORS.md")) as fh:
        assert fh.read() == gen_operators_md.render(), (
            "OPERATORS.md is stale — run: python tools/gen_operators_md.py"
        )


def test_bench_keys_resolve_and_are_unique():
    """bench.py's HEADLINE list: every key resolves in the registry,
    no duplicates (the append-only contract means deletions/renames
    would silently break round-over-round comparability)."""
    import bench

    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))
    qs = all_queries()
    missing = [k for k in bench.HEADLINE if k not in qs]
    assert not missing, missing
    # the like-for-like subtotal depends on every key carrying its
    # first-benched round — an untagged append would silently land in
    # the "new this round" bucket next round too
    assert set(bench.FIRST_BENCHED) == set(bench.HEADLINE)
