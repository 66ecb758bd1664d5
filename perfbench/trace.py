"""Per-layer tracing for the benchmark, from outside the engine.

Three sources, joined after the run:

- Spans: wall-clock intervals around calls into the engine's layers.
  ``Tracer.install`` wraps the public functions of the traced modules
  and rebinds every ``from … import`` alias of them in the package, so
  a call through any name is seen. Spans nest per thread.
- Spark's event log (enabled through the benchmark's own
  ``spark-defaults.conf``, uncompressed): jobs, stages and task
  metrics, plus the Python-worker SQL metrics. Each job goes to the
  innermost span open at its submission time — job groups miss the
  jobs that streaming and foreachBatch threads submit.
- A ``StreamingQueryListener`` per session: micro-batch phase times
  and state-store size.
"""

from __future__ import annotations

import inspect
import json
import sys
import threading
import time
from dataclasses import dataclass, field

PACKAGE = "landsat_tair_data_pipeline_spark"

# module → layer; the names listed are the only functions wrapped in
# that module (None: every public function defined there)
TRACED = {
    "session": ("session", ("get_spark",)),
    "sources.landsat": ("sources", None),
    "sources.tables": ("sources", None),
    "functions.radiometry": ("functions", None),
    "functions.features": ("functions", None),
    "operators.domain": ("operators", ("features_with_gt",)),
    "util": ("util", ("persist_tracked", "global_prefix")),
    "streaming.windows": ("streaming", None),
}

# SQL metric names of the Python exec nodes (PythonSQLMetrics)
PY_METRICS = {
    "data sent to Python workers": "sent",
    "data returned from Python workers": "returned",
    "time to run Python workers": "run",
    "time to start Python workers": "start",
    "time to initialize Python workers": "start",
}

# SQL metric types → factor to seconds (timings) or bytes (sizes)
_UNIT_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0}


@dataclass
class Span:
    layer: str
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    depth: int = 0
    parent: int = -1  # index into Tracer.spans
    tag: int = -1  # pass index
    children_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s


@dataclass
class Tracer:
    enabled: bool = False
    tag: int = -1
    spans: list = field(default_factory=list)
    persists: dict = field(default_factory=dict)  # pass tag → calls
    _local: threading.local = field(default_factory=threading.local)

    def span(self, layer: str, name: str):
        return _SpanCtx(self, layer, name)

    def install(self) -> None:
        """Wrap the traced functions; call after importing the engine."""
        import importlib

        originals = {}
        for mod_name, (layer, names) in TRACED.items():
            mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
            for name, fn in vars(mod).items():
                if not inspect.isfunction(fn) or fn.__module__ != mod.__name__:
                    continue
                if (names is None and name.startswith("_")) or (
                    names is not None and name not in names
                ):
                    continue
                originals[fn] = self._wrap(layer, f"{mod_name}.{name}", fn)
        self._count_persists()
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (
                mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")
            ):
                continue
            for attr, val in list(vars(mod).items()):
                if inspect.isfunction(val) and val in originals:
                    setattr(mod, attr, originals[val])

    def _count_persists(self) -> None:
        """Count every DataFrame persist/cache call, in the engine's
        cache helper or not, while tracing is on."""
        from pyspark.sql.classic.dataframe import DataFrame

        tracer = self
        for meth in ("persist", "cache"):
            fn = getattr(DataFrame, meth)

            def counted(df, *args, _fn=fn, **kwargs):
                if tracer.enabled:
                    tag = tracer.tag
                    tracer.persists[tag] = tracer.persists.get(tag, 0) + 1
                return _fn(df, *args, **kwargs)

            setattr(DataFrame, meth, counted)

    def _wrap(self, layer: str, name: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(layer, name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        traced.__name__ = fn.__name__
        return traced


class _SpanCtx:
    def __init__(self, tracer: Tracer, layer: str, name: str):
        self.t, self.layer, self.name = tracer, layer, name

    def __enter__(self):
        t = self.t
        if not t.enabled:
            self.idx = None
            return self
        stack = getattr(t._local, "stack", None)
        if stack is None:
            stack = t._local.stack = []
        self.idx = len(t.spans)
        t.spans.append(
            Span(
                self.layer,
                self.name,
                time.time(),
                depth=len(stack),
                parent=stack[-1] if stack else -1,
                tag=t.tag,
            )
        )
        stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        if self.idx is None:
            return False
        t = self.t
        sp = t.spans[self.idx]
        sp.end = time.time()
        t._local.stack.pop()
        if sp.parent >= 0:
            t.spans[sp.parent].children_s += sp.dur
        return False


def streaming_listener(progress: list):
    """A listener appending each micro-batch progress (as a dict) to
    ``progress``; register it on every session that runs streams."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


@dataclass
class Job:
    id: int
    submit: float  # epoch seconds
    stages: set = field(default_factory=set)
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0
    input_bytes: int = 0
    py: dict = field(default_factory=dict)


def parse_event_log(path: str) -> list[Job]:
    """Jobs with their task metrics summed, from an uncompressed event
    log. A stage belongs to the first job that lists it."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    py_accum: dict[int, tuple[str, float]] = {}

    def note(metrics):
        for m in metrics:
            if m.get("name") in PY_METRICS:
                scale = _UNIT_SCALE.get(m.get("metricType"), 1.0)
                py_accum[m["accumulatorId"]] = (PY_METRICS[m["name"]], scale)

    def plan_metrics(info):
        note(info.get("metrics", []))
        for c in info.get("children", []):
            plan_metrics(c)

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                job = Job(ev["Job ID"], ev["Submission Time"] / 1000.0)
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, job.id)
                jobs[job.id] = job
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                tm = ev.get("Task Metrics")
                if jid is None or not tm:
                    continue
                job = jobs[jid]
                job.stages.add(ev["Stage ID"])
                job.tasks += 1
                job.run_s += tm["Executor Run Time"] / 1e3
                job.cpu_s += tm["Executor CPU Time"] / 1e9
                job.gc_s += tm["JVM GC Time"] / 1e3
                sr = tm.get("Shuffle Read Metrics", {})
                job.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                job.shuffle_write += tm.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                job.spill += tm.get("Disk Bytes Spilled", 0)
                job.input_bytes += tm.get("Input Metrics", {}).get("Bytes Read", 0)
                for acc in ev.get("Task Info", {}).get("Accumulables", []):
                    hit = py_accum.get(acc.get("ID"))
                    if hit and isinstance(acc.get("Update"), (int, str)):
                        kind_py, scale = hit
                        val = int(acc["Update"]) * scale
                        job.py[kind_py] = job.py.get(kind_py, 0.0) + val
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                plan_metrics(ev.get("sparkPlanInfo", {}))
            elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
                note(ev.get("sqlPlanMetrics", []))
    return sorted(jobs.values(), key=lambda j: j.id)


def innermost_span(spans: list[Span], t: float) -> int:
    """Index of the deepest span open at epoch time ``t``, or -1."""
    best, best_key = -1, None
    for i, sp in enumerate(spans):
        if sp.start <= t <= sp.end:
            key = (sp.depth, sp.start)
            if best_key is None or key > best_key:
                best, best_key = i, key
    return best


def ancestors(spans: list[Span], i: int):
    while i >= 0:
        yield spans[i]
        i = spans[i].parent
