"""Shared helpers for sink-style operators that round-trip through a
content-addressed scratch directory.

Write-iff-absent (``mode('ignore')``) checks only path EXISTENCE, not
write completion: an interrupted first write would poison every later
run with a stable wrong answer. ``prepare_scratch_dir`` therefore
removes a leftover dir that lacks Spark's ``_SUCCESS`` marker before
the operator writes. (Streaming file sinks are different: their
``_spark_metadata`` manifest lists only committed files and the
checkpoint resumes an interrupted run, so they are crash-safe without
this.)
"""

from __future__ import annotations

import contextlib
import functools
import hashlib
import inspect
import os
import shutil

from . import zipcache  # noqa: F401  (installs the worker hook; see kernel)

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH_DIR = os.path.join(REPO_ROOT, ".scratch")


# --- scope-tracked DataFrame caches ----------------------------------------
# Spark's CacheManager holds persisted plans until an explicit
# unpersist or session end, so multi-branch queries that persist()
# intermediates (the jaccard corpus, the v3 pipeline stages) would
# accumulate blocks across queries in a long-lived driver/bench
# session (ADVICE r6). The registry wrapper scopes every tracked
# persist to its query key and releases all OTHER keys' frames when a
# different query starts — bench reps of the SAME key keep their warm
# cache (round-over-round numbers stay comparable), while the session
# holds at most one query's cached blocks at a time. Release happens
# at the next query's BUILD time, which is safe because both the
# driver gate and bench fully execute one query before building the
# next. Two caveats (r8 ADVICE):
#  - exact_split/_chunk_summary rely on their persist staying LIVE
#    through execution for range-boundary consistency, so releasing a
#    scope whose query is still running would reintroduce the rdd.id
#    desync bug. release_other_scopes therefore DEFERS the release
#    while any Spark job is active (the frames stay tracked and are
#    freed at the next quiescent build).
#  - direct spec.fn(spark, sf) calls bypass the registry wrapper and
#    register their persists under "_unscoped"; those frames are freed
#    by the next WRAPPED build. Use registry.spark_queries() /
#    tools/run_query.py for anything long-lived.

_CACHE_SCOPE: list[str] = ["_unscoped"]
_TRACKED: dict[str, list] = {}


def set_cache_scope(name: str) -> None:
    _CACHE_SCOPE[0] = name


def persist_tracked(df, level=None):
    """persist(MEMORY_AND_DISK) registered under the current query
    scope for deterministic release (see module comment above)."""
    from pyspark.storagelevel import StorageLevel

    df = df.persist(level or StorageLevel.MEMORY_AND_DISK)
    _TRACKED.setdefault(_CACHE_SCOPE[0], []).append(df)
    return df


class kernel:
    """A Python kernel as handed to ``mapInPandas``, ``applyInPandas``,
    ``applyInPandasWithState`` or ``pandas_udf``: calls ``fn`` unchanged.

    Every engine kernel goes through this class. It is pickled by
    reference, so unpickling a kernel on a worker imports this module
    and with it ``zipcache``, which stops the worker from re-reading
    ``pyspark.zip`` before each task. A bare nested function would be
    pickled by value and import nothing from the package (see
    ``zipcache``).

    PySpark reads ``fn``'s argument list through
    ``inspect.getfullargspec`` (to decide whether a grouped kernel gets
    the key), its type hints (to infer a ``pandas_udf``'s kind) and its
    name (shown in the plan). ``getfullargspec`` ignores ``__wrapped__``
    but honours ``__signature__``, so all three are forwarded."""

    def __init__(self, fn):
        self.__wrapped__ = fn

    def __call__(self, *args):
        return self.__wrapped__(*args)

    __signature__ = property(lambda self: inspect.signature(self.__wrapped__))
    __annotations__ = property(lambda self: self.__wrapped__.__annotations__)
    __name__ = property(lambda self: self.__wrapped__.__name__)


def recipe(fn):
    """``fn`` memoized for the life of the process: built on its first
    call, then handed back as is.

    For Column recipes made only from column names (``F.col("x")``,
    ``F.size("bands")``, literals). Such a Column binds no session and
    no plan, so one build serves every session of the process, one
    started after a ``spark.stop()`` too. Each ``pyspark.sql.functions``
    call and Column method is a py4j round trip to the driver JVM, and
    the Landsat chain's recipes cost hundreds per query build.

    Two rules keep that safe:
    - never memoize a recipe that reads ``df["x"]`` or ``df.x``: those
      bind the id of one plan;
    - never call a recipe at import: PySpark reads
      ``spark.python.sql.dataFrameDebugging.enabled`` once, at the
      first Column built in the process, and with no session active
      it settles on ``false`` for every session that follows (see
      ``session.get_spark``)."""
    return functools.cache(fn)


@contextlib.contextmanager
def py4j_calls(spark):
    """Count the py4j call commands (``c``) the driver sends to the JVM
    while the block runs; yields a dict whose ``"calls"`` it updates.

    Only calls are counted, so the count is deterministic: py4j also
    sends a memory-release command whenever Python garbage-collects a
    JVM proxy, at the collector's pace rather than the build's."""
    client = spark.sparkContext._gateway._gateway_client
    seen = {"calls": 0}
    send = client.send_command

    def counting(command, *args, **kwargs):
        if command.startswith("c\n"):
            seen["calls"] += 1
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        yield seen
    finally:
        client.send_command = send


def split_guard(df):
    """``df`` spread over ``defaultParallelism`` splits when it has fewer.

    A one-file parquet source otherwise runs a narrow pipeline, Python
    kernels included, on ONE task. The repartition fires only when the
    frame is under-split, so at real scale (thousands of splits) the
    plan has no extra exchange."""
    par = df.sparkSession.sparkContext.defaultParallelism
    # the split count of the frame's own physical plan; ``df.rdd``
    # would plan it a second time and convert it for Python
    if df._jdf.queryExecution().toRdd().getNumPartitions() < par:
        return df.repartition(par)
    return df


def global_prefix(df, order_cols, value_col=None):
    """Distributed INCLUSIVE prefix aggregate consistent with
    ``ORDER BY order_cols`` over the whole frame: prefix COUNT (the
    global ROW_NUMBER) when ``value_col`` is None, else prefix
    SUM(value_col). Adds ``_prefix`` (inclusive running value) and
    ``_total`` (grand total) to ``df``'s columns.

    The one scalable shape for a corpus-wide running quantity —
    shared by augment.exact_split (rank → split boundary),
    dedup._chunk_summary (token cumsum → chunk cut), and
    dedup._global_rank (rank → batch cut), which used to carry three
    copies of it:

    - range-partition on the FULL order key (a prefix of the order
      would let equal-key runs straddle a boundary out of tiebreak
      order), aggregate within partitions (explicit ROWS frame: the
      default RANGE frame gives ties equal running values, changing
      row_number semantics),
    - MATERIALIZE the ranked frame once (persist_tracked, lineage
      kept) before the offsets/join fan-out — repartitionByRange
      samples boundaries with an rdd.id-seeded random, so two
      executions of the same range shuffle can split boundary rows
      differently and desync the offsets (observed live in r7:
      4022/5000 train rows, session-dependent),
    - broadcast the tiny per-partition offsets back.

    Never a single-partition global window; the only unpartitioned
    windows run over O(#partitions) offset rows."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # exact_split is a public API over arbitrary caller frames — a
    # caller column shadowing one of the fixed helper names would
    # silently produce duplicate/ambiguous columns downstream
    reserved = {"_pid", "_lpre", "_off", "_prefix", "_total", "_cnt"}
    clash = reserved.intersection(df.columns)
    if clash:
        raise ValueError(
            f"global_prefix: input columns collide with reserved helper "
            f"names {sorted(clash)}; rename them before calling"
        )
    num = df.sparkSession.sparkContext.defaultParallelism
    val = F.lit(1) if value_col is None else F.col(value_col)
    ranged = (
        df.repartitionByRange(num, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    wloc = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = persist_tracked(ranged.withColumn("_lpre", F.sum(val).over(wloc)))
    offsets = (
        local.groupBy("_pid")
        .agg(F.sum(val).alias("_cnt"))
        .withColumn(
            "_off",
            F.coalesce(
                F.sum("_cnt").over(
                    Window.orderBy("_pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .withColumn("_total", F.sum("_cnt").over(Window.partitionBy()))
    )
    return (
        local.join(F.broadcast(offsets.select("_pid", "_off", "_total")), "_pid")
        .withColumn("_prefix", F.col("_lpre") + F.col("_off"))
        .drop("_pid", "_lpre", "_off")
    )


def release_other_scopes(current: str) -> None:
    """Unpersist every OTHER scope's tracked frames — unless a Spark
    job is still running, in which case defer: unpersisting a frame
    whose query is mid-execution would force recomputation and (for
    the range-partitioned prefix-sum frames) could desync partition
    boundaries between consumers. Deferred frames stay tracked and
    are freed at the next quiescent build."""
    others = [k for k in _TRACKED if k != current]
    if not others:
        return
    try:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is not None and spark.sparkContext.statusTracker().getActiveJobsIds():
            _warn_if_accumulating()
            return  # a query is still executing — defer the release
    except Exception:
        # Status unavailable (session tearing down, context mid-restart).
        # Defer — the safe direction: releasing under an unknown job
        # state risks the range-boundary desync the guard exists to
        # prevent, while deferring merely keeps blocks tracked until the
        # next quiescent build (or session end, which frees everything).
        _warn_if_accumulating()
        return
    for key in others:
        for df in _TRACKED.pop(key):
            try:
                df.unpersist()
            except Exception:
                pass  # session already gone; nothing to free


def _warn_if_accumulating(threshold: int = 3) -> None:
    """Deferred releases are expected to be rare and short-lived; if
    builds keep overlapping running jobs (e.g. an undrained stream),
    scopes accumulate tracked caches — surface that instead of
    silently holding executor memory (ADVICE r8)."""
    if len(_TRACKED) > threshold:
        import warnings

        warnings.warn(
            f"cache release deferred with {len(_TRACKED)} scopes still "
            f"tracked ({sorted(_TRACKED)}); builds may be overlapping "
            "active jobs",
            stacklevel=3,
        )


def content_tag(src_path: str) -> str:
    """Cheap data-vintage fingerprint of a source file (path + size +
    mtime): regenerated testdata gets a fresh scratch dir instead of
    silently reading back a stale write."""
    stat = os.stat(src_path)
    return hashlib.md5(
        f"{src_path}:{stat.st_size}:{stat.st_mtime_ns}".encode()
    ).hexdigest()[:12]


def prepare_scratch_dir(prefix: str, src_path: str) -> tuple[str, bool]:
    """Content-addressed scratch dir for a batch sink; removes an
    incomplete (no ``_SUCCESS``) leftover from an interrupted write so
    ``mode('ignore')`` semantics stay correct. Returns
    ``(out_dir, reused)``."""
    out_dir = os.path.join(SCRATCH_DIR, f"{prefix}_{content_tag(src_path)}")
    if os.path.isdir(out_dir) and not os.path.exists(
        os.path.join(out_dir, "_SUCCESS")
    ):
        shutil.rmtree(out_dir)
    # reused=True iff a prior COMPLETED write survives — i.e.
    # mode('ignore') will skip writing and the query will read data
    # this run did not produce. That is the only stale-content risk
    # path, so callers gate the (count-job-costing) read-back
    # integrity check on it: a fresh write this run is
    # trusted-complete. Returned from here (not probed by callers
    # after the fact) because probing _SUCCESS after the write always
    # says True.
    reused = os.path.exists(os.path.join(out_dir, "_SUCCESS"))
    return out_dir, reused


def assert_readback_complete(src, back, label: str) -> None:
    """Loud integrity gate between a reused scratch sink and its
    read-back: raises if the round-tripped row count differs from the
    source. A stale or partial scratch directory otherwise surfaces
    only as a silent value-hash mismatch at the driver (the failure
    class content-addressing defends against but cannot prove
    absent); this converts it into a named error at the query itself.
    Call only when the ``reused`` flag returned by
    ``prepare_scratch_dir`` is True — a fresh write this run is
    trusted-complete, and skipping keeps the two count jobs off the
    write path. Count equality is a deliberate cheap proxy: it cannot
    catch equal-count content drift, but content-addressing (path =
    source digest) already ties the dir to the source bytes, so the
    residual risk is a partial write that happens to hit the same
    count — accepted."""
    n_src, n_back = src.count(), back.count()
    if n_src != n_back:
        raise RuntimeError(
            f"{label}: scratch read-back has {n_back} rows but source has "
            f"{n_src} — stale or partial sink output; delete the scratch "
            "dir and rerun"
        )
