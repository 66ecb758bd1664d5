"""The stat-checked zip-invalidate hook (``zipcache``): every Python
worker that runs an engine kernel has it, and it leaves import
semantics unchanged."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile

import pytest

from landsat_tair_data_pipeline_spark import zipcache

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def on_path():
    """Put entries on sys.path; drop them, their importers and the
    modules imported through them afterwards."""
    added, before = [], set(sys.modules)

    def add(entry):
        sys.path.insert(0, str(entry))
        added.append(str(entry))

    yield add
    for entry in added:
        sys.path.remove(entry)
        for key in list(sys.path_importer_cache):
            if key.startswith(entry):
                del sys.path_importer_cache[key]
    for name in set(sys.modules) - before:
        del sys.modules[name]


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


def test_hook_is_installed_by_importing_util():
    import landsat_tair_data_pipeline_spark.util  # noqa: F401

    assert zipcache.installed()
    zipcache.install()  # idempotent
    assert zipcache.installed()


def test_directory_added_after_install_is_importable(tmp_path, on_path):
    on_path(tmp_path)
    with pytest.raises(ImportError):
        importlib.import_module("graft_dir_mod")  # caches the empty listing
    (tmp_path / "graft_dir_mod.py").write_text("VALUE = 7\n")
    importlib.invalidate_caches()
    assert importlib.import_module("graft_dir_mod").VALUE == 7


def test_rewritten_zip_is_reread(tmp_path, on_path):
    archive = tmp_path / "kernels.zip"
    _write_zip(archive, {"graft_zip_a.py": "VALUE = 1\n"})
    on_path(archive)
    assert importlib.import_module("graft_zip_a").VALUE == 1
    importlib.invalidate_caches()
    _write_zip(
        archive,
        {"graft_zip_a.py": "VALUE = 1\n", "graft_zip_b.py": "VALUE = 2\n"},
    )
    importlib.invalidate_caches()
    assert importlib.import_module("graft_zip_b").VALUE == 2


def test_unchanged_zip_is_not_reread(tmp_path, on_path, monkeypatch):
    archive = tmp_path / "pkg.zip"
    _write_zip(
        archive,
        {"graft_zpkg/__init__.py": "", "graft_zpkg/m.py": "VALUE = 3\n"},
    )
    on_path(archive)
    # two importers of one archive: the root and the package directory
    assert importlib.import_module("graft_zpkg.m").VALUE == 3
    importers = [
        f
        for f in sys.path_importer_cache.values()
        if getattr(f, "archive", None) == str(archive)
    ]
    assert len(importers) == 2

    reads, reread = [], zipcache._reread

    def counting(self):
        if self.archive == str(archive):
            reads.append(self.prefix)
        reread(self)

    monkeypatch.setattr(zipcache, "_reread", counting)
    importlib.invalidate_caches()
    assert len(reads) == 1  # first sight of the archive: one read, shared
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == 1
    os.utime(archive, ns=(0, 0))  # same bytes, new mtime: read again, once
    importlib.invalidate_caches()
    assert len(reads) == 2
    assert all(f._files is importers[0]._files for f in importers)


_WORKER_PROBE = r"""
import json, os, sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
from landsat_tair_data_pipeline_spark.registry import all_queries

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
queries = all_queries()


def descendants(root):  # {pid: (parent pid, cmdline)} below root
    procs = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                procs[int(pid)] = (ppid, f.read())
        except OSError:
            continue
    out, todo = {}, [root]
    while todo:
        parent = todo.pop()
        for pid, (ppid, cmd) in procs.items():
            if ppid == parent:
                out[pid] = (ppid, cmd)
                todo.append(pid)
    return out


def workers():
    # the Python workers: the processes the pyspark daemon forked
    procs = descendants(os.getpid())
    daemon = {p for p, (_, cmd) in procs.items() if b"pyspark.daemon" in cmd}
    return {p for p in daemon if procs[p][0] in daemon}


def probe(batches):
    import os
    import zipimport

    import pandas as pd

    for _ in batches:
        pass
    mod = zipimport.zipimporter.invalidate_caches.__module__
    yield pd.DataFrame({"pid": [os.getpid()], "hook": [mod]})


result, probe_made = {}, set()
for name in ("stream_stateful_user_totals", "sim_ivf_topk"):
    assert queries[name].fn(spark, sys.argv[2]).count() > 0, name
    # every worker forked so far, bar the probe's own, ran only kernels
    before = workers()
    # A plain SQL Python task, so it draws from the kernels' worker
    # pool. Idle workers are reused first-in first-out, so many tiny
    # tasks visit every one of them.
    seen = {
        r.pid: r.hook
        for r in spark.range(64, numPartitions=64)
        .mapInPandas(probe, "pid long, hook string")
        .collect()
    }
    result[name] = {"ran": sorted(before - probe_made), "seen": seen}
    probe_made |= set(seen) - before
spark.stop()
print("PROBE " + json.dumps(result))
"""


def test_every_kernel_worker_has_the_hook(sf_dir):
    """The stateful key's kernel is a by-value closure that names no
    package global; the similarity key runs grouped and map kernels.
    Every worker that ran one of their tasks must hold the hook."""
    out = subprocess.run(
        [sys.executable, "-c", _WORKER_PROBE, REPO, sf_dir],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=REPO,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("PROBE ")]
    assert lines, out.stderr[-3000:]
    for name, res in json.loads(lines[-1][len("PROBE "):]).items():
        ran, seen = res["ran"], {int(k): v for k, v in res["seen"].items()}
        assert ran, f"{name}: no Python worker ran"
        assert set(ran) <= set(seen), (name, ran, seen)
        assert {seen[p] for p in ran} == {zipcache.__name__}, (name, seen)
