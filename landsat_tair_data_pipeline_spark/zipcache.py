"""Stat-checked zip re-reads for the PySpark Python workers.

Before every task, PySpark's worker (``worker_util.setup_spark_files``)
calls ``importlib.invalidate_caches()``. On CPython 3.11 that makes every
``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's central directory. A worker started under ``SPARK_HOME``
imports PySpark from ``python/lib/pyspark.zip`` through 16 such
importers, so a reused worker re-read that archive 16 times per task:
a median 290 ms per call on a 4-vCPU host, once the worker had run a
pandas kernel, against ~0 ms of kernel time on small tasks.

``install()`` replaces ``zipimporter.invalidate_caches`` with a version
that re-reads an archive only when its ``os.stat`` (mtime_ns, size)
differs from the stat taken at the last re-read. Path-based finders are
still invalidated by ``importlib`` as before, and a rewritten archive is
still re-read, so import semantics do not change. Where PySpark is
imported from an unzipped tree there are no zipimporter entries and the
hook never runs. Importing this module installs the hook, once; it needs
no session conf, option or environment variable.

How a worker gets here: cloudpickle ships a nested kernel function by
value, and unpickling it imports only the module globals its code names.
A closure such as ``stream_stateful_user_totals``' ``totals``, which
names only ``pd`` and ``GroupState``, imports nothing from this package.
So every Python kernel (``mapInPandas``, ``applyInPandas``,
``applyInPandasWithState``, ``pandas_udf``) is wrapped in
``util.kernel``. That class is pickled by reference, so unpickling any
kernel imports ``util``, which imports this module. Only the first task
on each worker still pays the full re-read.
"""

from __future__ import annotations

import os
import zipimport

# CPython's own method: reads the archive's directory again, always.
_reread = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) taken just before its last re-read
_read_at: dict[str, tuple[int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read while the
    archive on disk is the one zipimport last read. A skipped importer
    adopts the shared directory of that read, so every importer of one
    archive sees the same listing."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _read_at.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    _read_at[self.archive] = stamp


def installed() -> bool:
    return zipimport.zipimporter.invalidate_caches is _invalidate_if_changed


def install() -> None:
    """Install the hook in this process; a no-op when already installed."""
    if not installed():
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


install()
