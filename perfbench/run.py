#!/usr/bin/env python3
"""Closed-loop benchmark of the engine, measured from outside it.

    python3 perfbench/run.py --workload landsat_chain --seed 1 \\
        --seconds 5 --trace 0

Run from the repository root. One process, one client, one pass at a
time on ``local[<cpus>]``. Every pass runs in a fresh
``spark.newSession()`` after ``spark.catalog.clearCache()`` and writes
its sinks under a fresh directory, so no pass reads what an earlier one
cached or wrote. The first pass is ``cold_s``; the next two are JIT
ramp passes, and the steady passes that follow are measured for
``--seconds``. Every pass's outputs are checked against the engine's
DuckDB oracle SQL; a pass that raises or mismatches counts against
``success_ratio`` and is left out of the timings.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns on the
event log, spans and a streaming listener, alternates untraced and
traced steady passes, and prints the per-layer metrics (medians over
the traced steady passes) plus the tracing overhead. Everything the run
creates lives under ``.perfbench/`` in the repository root and is
deleted at exit. The last line of stdout is one JSON object.
"""

from __future__ import annotations

import argparse
import ctypes
import gc
import glob
import importlib.util
import json
import os
import shutil
import signal
import statistics
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import expect, landsat_fixtures  # noqa: E402
from perfbench.trace import (  # noqa: E402
    Tracer,
    ancestors,
    innermost_span,
    parse_event_log,
    streaming_listener,
)

PACKAGE = "landsat_tair_data_pipeline_spark"
MB = 1e6
# bulk scenes beside the 8 trap scenes in the landsat_chain fixture set
N_GENERATED_SCENES = 12
# held_mem_mb is read after this pass (cold + 3), not after the last
# one: the heap the engine retains grows with every pass, so a reading
# after a time-bounded number of passes would track speed, not memory
HELD_MEM_AFTER_PASS = 3
# good passes after the cold one that are left out as JIT ramp: each
# of the first two runs 10-50% faster than the one before, later ones
# fall by a few percent per pass for about 8 passes
RAMP_PASSES = 2


@dataclass(frozen=True)
class Workload:
    keys: tuple[str, ...]
    sf_dir: str | None = None  # fixed tables, relative to this directory
    landsat: bool = False  # seeded Landsat fixture set
    sink: bool = False  # every pass must write sink bytes
    # successful steady passes a run needs (per side in a traced run);
    # short passes need more for a steady median
    min_steady: int = 2


WORKLOADS = {
    "landsat_chain": Workload(
        (
            "domain_pipeline_summary",
            "map_concat_features",
            "aug_explode_4x",
            "agg_domain_grouped",
        ),
        landsat=True,
    ),
    "stream_ingest": Workload(
        ("stream_sink_parquet", "stream_stateful_user_totals"),
        "data/sf0.1",
        sink=True,
        min_steady=4,
    ),
    # runnable by hand; not in BENCHMARK.json (see README: its set-up
    # plus cold pass alone exceed the per-run time budget)
    "curation_v9": Workload(("llm_data_pipeline_v9",), "data/sf0.01"),
}

E2E_UNITS = {
    "setup_s": "s",
    "cold_s": "s",
    "pass_s": "s",
    "cpu_s": "CPU-s",
    "held_mem_mb": "MB",
    "success_ratio": "ratio",
}


@dataclass
class PassResult:
    index: int
    role: str  # cold | ramp | steady
    traced: bool
    ok: bool
    wall: float
    cpu: float
    t0: float = 0.0  # epoch seconds
    t1: float = 0.0
    error: str | None = None
    extra: dict = field(default_factory=dict)


class ShortRun(Exception):
    """The run ended before it had the steady passes it needs."""


def measure(
    run_pass,
    seconds: float,
    min_steady: int,
    *,
    alternate: bool = False,
    stop_at: float = float("inf"),
) -> list[PassResult]:
    """The pass protocol, over ``run_pass(index, role, traced)``.

    Pass 0 is cold, and the passes up to the ``RAMP_PASSES``-th good one
    after it are ramp passes. Then steady passes run until ``seconds``
    have passed and at least ``min_steady`` (per side, with
    ``alternate``) succeeded. With ``alternate``, steady passes
    alternate untraced and traced. No pass starts after
    ``time.monotonic()`` reaches ``stop_at``; a run stopped that way
    before it has ``min_steady`` good steady passes raises
    ``ShortRun``."""
    results = [run_pass(0, "cold", alternate)]
    n_ramp = 0
    while n_ramp < RAMP_PASSES and time.monotonic() < stop_at:
        results.append(run_pass(len(results), "ramp", alternate))
        n_ramp += results[-1].ok
    steady_t0 = time.monotonic()
    while True:
        good = [r for r in results if r.role == "steady" and r.ok]
        sides = [[r for r in good if r.traced == t] for t in (False, True)]
        need = sides if alternate else sides[:1]
        enough = all(len(s) >= min_steady for s in need)
        if enough and time.monotonic() - steady_t0 >= seconds:
            return results
        if time.monotonic() >= stop_at:
            if enough:
                return results
            raise ShortRun(
                f"{len(results)} passes, {[len(s) for s in need]} good steady"
                f" ones of {min_steady} needed"
            )
        last = [r.traced for r in results if r.role == "steady"][-1:]
        traced = alternate and not (last and last[0])
        results.append(run_pass(len(results), "steady", traced))


def success_ratio(results: list[PassResult]) -> float:
    return sum(r.ok for r in results) / len(results)


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, CPU ticks incl. reaped children) from /proc."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while scanning
        rest = stat[stat.rfind(")") + 2 :].split()
        table[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    return table


def descendants(root: int | None = None, table: dict | None = None) -> list[int]:
    """Every process under ``root`` (this one by default), zombies too."""
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in (table or _proc_table()).items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], list(kids.get(root, ()))
    while stack:
        out.append(stack.pop())
        stack.extend(kids.get(out[-1], ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, reaped children included) of the
    process tree under ``root``: driver, JVM and Python workers."""
    root = os.getpid() if root is None else root
    table = _proc_table()
    ticks = sum(table.get(p, (0, 0))[1] for p in [root] + descendants(root, table))
    return ticks / os.sysconf("SC_CLK_TCK")


def become_subreaper() -> None:
    """Have orphaned descendants (a Python-worker daemon whose JVM has
    exited) re-parented to this process, so ``stop_descendants`` sees
    and reaps every process the run started."""
    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace: float = 20.0) -> None:
    """Stop every process this one started and wait until each has
    ended. The gateway JVM exits by itself once its stdin is closed,
    and takes its Python workers with it; whatever is left after
    ``grace`` seconds gets SIGTERM, then SIGKILL."""
    context = sys.modules.get("pyspark.context")
    gateway = getattr(getattr(context, "SparkContext", None), "_gateway", None)
    proc = getattr(gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass  # the JVM is gone already
    deadline, sig = time.monotonic() + grace, None
    while True:
        _reap()
        live = descendants()
        if not live:
            return
        if time.monotonic() >= deadline:
            sig = signal.SIGKILL if sig == signal.SIGTERM else signal.SIGTERM
            for pid in live:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)


def storage_bytes(spark) -> tuple[int, int]:
    """(memory, disk) bytes of cached blocks the block manager holds."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return (
        sum(i.memSize() for i in infos),
        sum(i.diskSize() for i in infos),
    )


def held_mem_mb(spark) -> float:
    """JVM heap in use after full GCs, plus cached blocks on disk
    (blocks cached in memory are part of the heap already). One
    ``System.gc()`` leaves garbage behind; GC until the heap stops
    shrinking."""
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    samples = []
    for _ in range(8):
        jvm.java.lang.System.gc()
        time.sleep(0.2)
        samples.append(rt.totalMemory() - rt.freeMemory())
        if len(samples) >= 3 and samples[-1] > min(samples[:-1]) * 0.99:
            break
    return (min(samples) + storage_bytes(spark)[1]) / MB


def parquet_bytes(root: str) -> int:
    paths = glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
    return sum(os.path.getsize(p) for p in paths if os.path.isfile(p))


def dir_bytes(root: str) -> int:
    paths = glob.glob(os.path.join(root, "**", "*"), recursive=True)
    return sum(os.path.getsize(p) for p in paths if os.path.isfile(p))


def plan_seconds(df) -> float:
    """Catalyst time (parse, analysis, optimization, planning) from the
    executed DataFrame's QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.values().iterator()
    total = 0
    while it.hasNext():
        total += it.next().durationMs()
    return total / 1e3


def spark_conf(work: str, trace: bool) -> str:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        "spark.eventLog.enabled": "true" if trace else "false",
        "spark.eventLog.dir": f"file://{work}/eventlog",
        "spark.eventLog.compress": "false",  # zstandard is absent
        "spark.eventLog.rolling.enabled": "false",  # one file per app
    }
    return "".join(f"{k} {v}\n" for k, v in conf.items())


class Bench:
    def __init__(self, name: str, seed: int, trace: bool, work: str):
        self.wl = WORKLOADS[name]
        self.seed, self.trace, self.work = seed, trace, work
        self.cpus = len(os.sched_getaffinity(0))
        self.tracer = Tracer()
        self.progress: list = []
        self.metrics: dict = {}

    # -- environment -------------------------------------------------------

    def prepare(self) -> None:
        w = self.work
        for d in ("conf", "tmp", "local", "eventlog", "scratch"):
            os.makedirs(os.path.join(w, d))
        with open(os.path.join(w, "conf", "spark-defaults.conf"), "w") as f:
            f.write(spark_conf(w, self.trace))
        os.environ.update(
            SPARK_CONF_DIR=os.path.join(w, "conf"),
            SPARK_LOCAL_DIRS=os.path.join(w, "local"),
            TMPDIR=os.path.join(w, "tmp"),
            SPARK_GRAFT_CPUS=str(self.cpus),
            PYSPARK_PYTHON=sys.executable,
            TZ="UTC",
        )
        time.tzset()
        if self.wl.landsat:
            self.sf = os.path.join(w, "fixtures")
            os.makedirs(self.sf)
            landsat_fixtures.generate(self.sf, self.seed, N_GENERATED_SCENES)
            # the engine formats this path into its oracle SQL at import
            os.environ["SPARK_GRAFT_FIXTURE_DIR"] = self.sf
        else:
            self.sf = os.path.join(HERE, self.wl.sf_dir)
        self.input_bytes = dir_bytes(self.sf)

    def setup(self) -> None:
        """Package import + session start + one Python-worker round
        trip, timed as ``setup_s``."""
        t0 = time.perf_counter()
        import importlib

        self.registry = importlib.import_module(f"{PACKAGE}.registry")
        self.session = importlib.import_module(f"{PACKAGE}.session")
        self.util = importlib.import_module(f"{PACKAGE}.util")
        self.runners = self.registry.spark_queries()
        if self.trace:
            self.tracer.install()
            self.tracer.enabled = True
        t1 = time.perf_counter()
        self.spark = self.session.get_spark("perfbench")
        t2 = time.perf_counter()
        self.spark.sparkContext.parallelize([0], 1).map(lambda x: x + 1).collect()
        t3 = time.perf_counter()
        self.tracer.enabled = False
        self.spark.sparkContext.setLogLevel("ERROR")
        self.metrics["setup_s"] = t3 - t0
        self.setup_parts = {"start": t2 - t1, "worker": t3 - t2}

    def _set_scratch(self, path: str) -> None:
        # sink operators read util.SCRATCH_DIR when called
        self.util.SCRATCH_DIR = path

    # -- one pass ------------------------------------------------------------

    def run_pass(self, index: int, role: str, traced: bool) -> PassResult:
        self.spark.catalog.clearCache()
        # start each pass on a collected heap, so no pass pays for the
        # garbage of the one before it
        gc.collect()
        self.spark.sparkContext._jvm.java.lang.System.gc()
        sess = self.spark.newSession()
        scratch = os.path.join(self.work, "scratch", f"pass{index:03d}")
        self._set_scratch(scratch)
        tr = self.tracer
        if self.trace:
            sess.streams.addListener(streaming_listener(self.progress))
        tr.tag, tr.enabled = index, traced
        outs, err = {}, None
        e0, c0, t0 = time.time(), tree_cpu_s(), time.perf_counter()
        try:
            for key in self.wl.keys:
                with tr.span("registry", f"build:{key}"):
                    df = self.runners[key](sess, self.sf)
                with tr.span("registry", f"exec:{key}"):
                    outs[key] = (df, df.columns, df.collect())
        except Exception as exc:  # a failed pass is counted, not fatal
            err = f"{type(exc).__name__}: {exc}"
        wall, cpu, e1 = time.perf_counter() - t0, tree_cpu_s() - c0, time.time()
        tr.enabled = False
        r = PassResult(index, role, traced, err is None, wall, cpu, e0, e1, err)
        for key, (df, cols, rows) in outs.items():
            why = expect.mismatch(self.expected[key], cols, rows)
            if why and r.ok:
                r.ok, r.error = False, f"{key}: {why}"
        r.extra["sink_bytes"] = parquet_bytes(scratch)
        if self.wl.sink and r.ok and r.extra["sink_bytes"] == 0:
            r.ok, r.error = False, "pass wrote no sink bytes"
        if index == HELD_MEM_AFTER_PASS and not self.trace:
            self.metrics["held_mem_mb"] = held_mem_mb(self.spark)
        if traced and self.trace:
            r.extra["plan_s"] = sum(plan_seconds(df) for df, _, _ in outs.values())
            r.extra["cached_mb"] = sum(storage_bytes(self.spark)) / MB
        if r.error:
            print(f"pass {index} failed: {r.error}", file=sys.stderr)
        return r

    # -- the run -------------------------------------------------------------

    def run(self, seconds: float, stop_at: float) -> dict:
        self.prepare()
        self.setup()
        self.expected = expect.expected(
            self.registry.oracle_sqls(),
            self.wl.keys,
            None if self.wl.landsat else self.sf,
        )
        app_id = self.spark.sparkContext.applicationId
        try:
            results = measure(
                self.run_pass,
                seconds,
                self.wl.min_steady,
                alternate=self.trace,
                stop_at=stop_at,
            )
            if not self.trace and "held_mem_mb" not in self.metrics:
                self.metrics["held_mem_mb"] = held_mem_mb(self.spark)  # short run
        finally:
            self.spark.stop()
        steady = [r for r in results if r.role == "steady" and r.ok]
        plain = [r for r in steady if not r.traced]
        cold = results[0]
        out = {
            "correct": all(r.ok for r in results),
            "attempted": len(results),
            "failed": sum(not r.ok for r in results),
        }
        print(
            json.dumps(
                {
                    "passes": [
                        [r.role, int(r.traced), r.ok, round(r.wall, 3), round(r.cpu, 2)]
                        for r in results
                    ]
                }
            ),
            file=sys.stderr,
        )
        if not self.trace:
            m = dict(self.metrics)
            m["cold_s"] = cold.wall
            m["pass_s"] = statistics.median([r.wall for r in plain])
            m["cpu_s"] = statistics.median([r.cpu for r in plain])
            m["success_ratio"] = success_ratio(results)
            out["metrics"] = {
                k: {"value": m[k], "unit": u} for k, u in E2E_UNITS.items()
            }
            return out
        log = os.path.join(self.work, "eventlog", app_id)
        layers = self.layer_metrics(results, parse_event_log(log))
        traced = [r for r in steady if r.traced]
        overhead = statistics.median([r.wall for r in traced]) - statistics.median(
            [r.wall for r in plain]
        )
        layers["trace.overhead_s"] = (overhead, "s")
        out["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        return out

    # -- per-layer metrics (traced run) -------------------------------------

    def layer_metrics(self, results: list[PassResult], jobs: list) -> dict:
        spans = self.tracer.spans
        per_pass = []
        detail = {}
        for r in results:
            if not r.traced:
                continue
            row, keys = self._pass_layers(r, spans, jobs)
            detail[f"{r.index}:{r.role}"] = keys
            if r.role == "steady" and r.ok:
                per_pass.append(row)
        print(json.dumps({"per_key": detail}), file=sys.stderr)
        out = {
            "session.start_s": (self.setup_parts["start"], "s"),
            "session.worker_start_s": (self.setup_parts["worker"], "s"),
        }
        for name, unit in LAYER_UNITS.items():
            if name not in out:
                out[name] = (statistics.median([p[name] for p in per_pass]), unit)
        return out

    def _pass_layers(self, r: PassResult, spans: list, jobs: list):
        mine = [i for i, s in enumerate(spans) if s.tag == r.index]
        pjobs = [j for j in jobs if r.t0 <= j.submit <= r.t1]
        owner = {
            j.id: innermost_span([spans[i] for i in mine], j.submit) for j in pjobs
        }
        owner = {k: (mine[v] if v >= 0 else -1) for k, v in owner.items()}

        def self_s(layer):
            return sum(spans[i].self_s for i in mine if spans[i].layer == layer)

        def in_layer(job, layer, name_prefix=""):
            return any(
                s.layer == layer and s.name.startswith(name_prefix)
                for s in ancestors(spans, owner[job.id])
            )

        def root_key(job):
            chain = list(ancestors(spans, owner[job.id]))
            return chain[-1].name if chain else "-"

        builds = [spans[i] for i in mine if spans[i].name.startswith("build:")]
        execs = [spans[i] for i in mine if spans[i].name.startswith("exec:")]
        prog = [p for p in self.progress if r.t0 <= _epoch(p["timestamp"]) <= r.t1]
        last = {}
        for p in prog:
            last[p["id"]] = p
        dur = lambda k: sum(p["durationMs"].get(k, 0) for p in prog) / 1e3  # noqa: E731
        trigger = dur("triggerExecution")
        run_s = sum(j.run_s for j in pjobs)
        py = lambda k: sum(j.py.get(k, 0.0) for j in pjobs)  # noqa: E731
        input_b = sum(j.input_bytes for j in pjobs)
        row = {
            "registry.build_s": sum(s.dur for s in builds),
            "registry.exec_s": sum(s.dur for s in execs),
            "registry.build_jobs": sum(in_layer(j, "registry", "build:") for j in pjobs),
            "sources.self_s": self_s("sources"),
            "sources.list_jobs": sum(
                owner[j.id] >= 0 and spans[owner[j.id]].layer == "sources"
                for j in pjobs
            ),
            "sources.input_mb": input_b / MB,
            "sources.scan_ratio": input_b / self.input_bytes,
            "functions.self_s": self_s("functions"),
            "operators.self_s": sum(s.self_s for s in builds) + self_s("operators"),
            "util.persist_calls": self.tracer.persists.get(r.index, 0),
            "util.cached_mb": r.extra["cached_mb"],
            "spark.plan_s": r.extra["plan_s"],
            "spark.jobs": len(pjobs),
            "spark.stages": sum(len(j.stages) for j in pjobs),
            "spark.tasks": sum(j.tasks for j in pjobs),
            "spark.exec_run_s": run_s,
            "spark.exec_cpu_s": sum(j.cpu_s for j in pjobs),
            "spark.gc_s": sum(j.gc_s for j in pjobs),
            "spark.core_util": run_s / (r.wall * self.cpus),
            "spark.shuffle_write_mb": sum(j.shuffle_write for j in pjobs) / MB,
            "spark.shuffle_read_mb": sum(j.shuffle_read for j in pjobs) / MB,
            "spark.spill_mb": sum(j.spill for j in pjobs) / MB,
            "python.sent_mb": py("sent") / MB,
            "python.returned_mb": py("returned") / MB,
            "python.run_s": py("run"),
            "python.start_s": py("start"),
            "streaming.batches": len(prog),
            "streaming.trigger_s": trigger,
            "streaming.add_batch_s": dur("addBatch"),
            "streaming.plan_s": dur("queryPlanning"),
            "streaming.commit_s": dur("commitOffsets"),
            "streaming.offset_s": dur("latestOffset") + dur("walCommit"),
            "streaming.state_rows": sum(
                o.get("numRowsTotal", 0)
                for p in last.values()
                for o in p.get("stateOperators", [])
            ),
            "streaming.state_mb": sum(
                o.get("memoryUsedBytes", 0)
                for p in last.values()
                for o in p.get("stateOperators", [])
            )
            / MB,
            "streaming.sink_mb": r.extra["sink_bytes"] / MB,
            "streaming.driver_s": sum(
                s.dur for s in builds if s.name.startswith("build:stream_")
            )
            - trigger,
        }
        keys = {}
        for j in pjobs:
            k = keys.setdefault(
                root_key(j), {"jobs": 0, "exec_cpu_s": 0.0, "shuffle_mb": 0.0}
            )
            k["jobs"] += 1
            k["exec_cpu_s"] = round(k["exec_cpu_s"] + j.cpu_s, 3)
            k["shuffle_mb"] = round(
                k["shuffle_mb"] + (j.shuffle_write + j.shuffle_read) / MB, 3
            )
        for s in builds + execs:
            keys.setdefault(s.name, {})["wall_s"] = round(s.dur, 3)
        keys["cached_mb_after"] = round(r.extra["cached_mb"], 3)
        return row, keys


LAYER_UNITS = {
    "session.start_s": "s",
    "session.worker_start_s": "s",
    "registry.build_s": "s",
    "registry.exec_s": "s",
    "registry.build_jobs": "count",
    "sources.self_s": "s",
    "sources.list_jobs": "count",
    "sources.input_mb": "MB",
    "sources.scan_ratio": "ratio",
    "functions.self_s": "s",
    "operators.self_s": "s",
    "util.persist_calls": "count",
    "util.cached_mb": "MB",
    "spark.plan_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.exec_run_s": "s",
    "spark.exec_cpu_s": "CPU-s",
    "spark.gc_s": "s",
    "spark.core_util": "ratio",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "python.sent_mb": "MB",
    "python.returned_mb": "MB",
    "python.run_s": "s",
    "python.start_s": "s",
    "streaming.batches": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.plan_s": "s",
    "streaming.commit_s": "s",
    "streaming.offset_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "streaming.sink_mb": "MB",
    "streaming.driver_s": "s",
}


def _epoch(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def main(argv=None) -> int:
    start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = importlib.util.find_spec(PACKAGE)
    if spec is None or not (spec.origin or "").startswith(ROOT + os.sep):
        print(f"{PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    scratch_root = os.path.join(ROOT, ".perfbench")
    work = os.path.join(scratch_root, f"{args.workload}-{os.getpid()}")
    become_subreaper()
    try:
        bench = Bench(args.workload, args.seed, bool(args.trace), work)
        # leave room under the 180 s limit for stop and clean-up
        result = bench.run(args.seconds, stop_at=start + 140)
    except ShortRun as exc:
        print(f"no result: {exc}", file=sys.stderr)
        return 1
    finally:
        stop_descendants()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(scratch_root)
        except OSError:
            pass  # another run's directory is still there
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
