"""Spans around the public functions of each layer, plus Spark counters.

:class:`Tracer` wraps every public function of the layer modules in
:data:`LAYERS` and rebinds each by-name import of it in every loaded
``connect_server_spark`` module, so ``from connect_server_spark.execution
import stage_boundary`` in a caller also goes through the wrapper. Spans
(name, layer, start, end, parent) stay in memory; self time is a span's
duration minus the union of its children's intervals. Threads that start
with an empty stack (a thread pool inside an operator) attach their spans
to the current operation.

Spark work is counted by job-id range across each operation, not by job
group (plain threads do not inherit a job group), and read from the
status store, which works with the UI disabled.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import itertools
import pkgutil
import sys
import threading
import time

PACKAGE = "connect_server_spark"

# layer name -> (module, function names or None for every public function)
LAYERS: dict[str, list[tuple[str, tuple[str, ...] | None]]] = {
    "tables": [("tables", None)],
    "functions": [
        ("functions.expr", None),
        ("functions.metadata", None),
        ("functions.source_ids", None),
        ("functions.uris", None),
    ],
    "plans": [("plans.filter_compiler", ("compile_filters", "scan_table"))],
    "pipeline": [
        ("pipeline.submit", ("submit_pipeline",)),
        ("pipeline.flow", ("run_flow",)),
        ("pipeline.schema_check", ("check_submission",)),
    ],
    **{
        f"operators.{m}": [(f"operators.{m}", None)]
        for m in (
            "org", "versioning", "validator", "transfer", "extractors",
            "curation", "text", "tokenizer", "packing", "dedup",
            "similarity", "retrieval", "layout",
        )
    },
    "execution.stage_boundary": [("execution", ("stage_boundary",))],
    "storage": [("storage", None)],
    "sinks": [("sinks", None)],
}

# per-stage fields read from the status store: metric name -> (getter, scale)
_STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
}
_SPILL_FIELDS = ("memoryBytesSpilled", "diskBytesSpilled")


# The tracer the wrappers report to. A wrapper keeps its function's
# module and qualified name (functools.wraps) and is bound under that
# name, so cloudpickle sends it by reference and a Python worker runs the
# unwrapped function.
_TRACER: Tracer | None = None


def import_all_modules() -> None:
    """Import every module of the package, so each by-name import of a
    wrapped function exists before the wrappers are installed."""
    from connect_server_spark import registry

    registry.all_queries()  # keeps the registry's own import order
    pkg = importlib.import_module(PACKAGE)
    for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
        importlib.import_module(info.name)


def _public_functions(module, names):
    for name, obj in vars(module).items():
        if names is not None and name not in names:
            continue
        if (
            not name.startswith("_")
            and inspect.isfunction(obj)
            and obj.__module__ == module.__name__
        ):
            yield name, obj


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op: int | None = None
        self._patches: list[tuple[object, str, object, object]] = []

    # -- spans ------------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, layer: str, name: str) -> dict:
        st = self._stack()
        parent = st[-1] if st else self._op
        span = {
            "id": next(self._ids), "parent": parent, "layer": layer,
            "name": name, "t0": time.perf_counter(), "t1": None,
        }
        st.append(span["id"])
        return span

    def end(self, span: dict) -> None:
        span["t1"] = time.perf_counter()
        self._stack().pop()
        with self._lock:
            self.spans.append(span)

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        span = self.begin(layer, name)
        try:
            yield span
        finally:
            self.end(span)

    @contextlib.contextmanager
    def op_span(self, kind: str, name: str):
        """Root span of one timed operation; spans of threads with an
        empty stack attach to it."""
        with self.span("op", f"{kind}:{name}") as span:
            self._op = span["id"]
            try:
                yield span
            finally:
                self._op = None

    # -- wrappers ---------------------------------------------------------
    def _wrap(self, layer: str, fn):
        qual = f"{fn.__module__.removeprefix(PACKAGE + '.')}.{fn.__name__}"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            tracer = _TRACER
            if tracer is None:
                return fn(*args, **kwargs)
            span = tracer.begin(layer, qual)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(span)

        return wrapper

    def install(self) -> None:
        """Build a wrapper for every layer function and find each module
        attribute bound to one; :meth:`activate` swaps them in and out."""
        import_all_modules()
        wrappers: dict[int, object] = {}
        for layer, entries in LAYERS.items():
            for mod_name, names in entries:
                module = sys.modules[f"{PACKAGE}.{mod_name}"]
                for _name, fn in _public_functions(module, names):
                    wrappers[id(fn)] = self._wrap(layer, fn)
        for mod_name, module in list(sys.modules.items()):
            if mod_name != PACKAGE and not mod_name.startswith(PACKAGE + "."):
                continue
            for attr, value in list(vars(module).items()):
                wrapper = wrappers.get(id(value))
                if wrapper is not None and inspect.isfunction(value):
                    self._patches.append((module, attr, value, wrapper))

    def activate(self, on: bool) -> None:
        global _TRACER
        _TRACER = self if on else None
        for module, attr, original, wrapper in self._patches:
            setattr(module, attr, wrapper if on else original)

    # -- self time ----------------------------------------------------------
    def layer_totals(self, root_ids: set[int]):
        """(self seconds, calls) per layer over the span trees under
        ``root_ids``."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append(s)
        self_s: dict[str, float] = {}
        calls: dict[str, int] = {}
        todo = [s for s in self.spans if s["id"] in root_ids]
        while todo:
            s = todo.pop()
            kids = children.get(s["id"], [])
            covered = _union_length(
                [(max(k["t0"], s["t0"]), min(k["t1"], s["t1"])) for k in kids]
            )
            self_s[s["layer"]] = self_s.get(s["layer"], 0.0) + max(
                s["t1"] - s["t0"] - covered, 0.0
            )
            calls[s["layer"]] = calls.get(s["layer"], 0) + 1
            todo.extend(kids)
        return self_s, calls


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class SparkCounters:
    """Jobs, stages, tasks and task metrics of the jobs started since the
    last call, read from the status store."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._last = self._max_job()

    def _job_ids(self) -> list[int]:
        return list(self._sc.statusTracker().getJobIdsForGroup(None))

    def _max_job(self) -> int:
        return max(self._job_ids(), default=-1)

    def mark(self) -> None:
        self._last = self._max_job()

    def collect(self) -> dict[str, float]:
        jobs = sorted(j for j in self._job_ids() if j > self._last)
        if jobs:
            self._last = jobs[-1]
        tracker = self._sc.statusTracker()
        stage_ids: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {"jobs": float(len(jobs)), "stages": 0.0, "tasks": 0.0,
               "failed_tasks": 0.0, "spill_bytes": 0.0,
               **{k: 0.0 for k in _STAGE_FIELDS}}
        for sid in stage_ids:
            try:
                sd = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - evicted from the store
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            for key, (getter, scale) in _STAGE_FIELDS.items():
                out[key] += getattr(sd, getter)() * scale
            out["spill_bytes"] += sum(getattr(sd, g)() for g in _SPILL_FIELDS)
        return out


def planning_seconds(df) -> float:
    """Analysis + optimisation + planning seconds of ``df``'s own query
    execution, from its ``QueryPlanningTracker``."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    total = 0
    while it.hasNext():
        kv = it.next()
        if kv._1() in ("analysis", "optimization", "planning"):
            total += kv._2().durationMs()
    return total / 1000.0
