"""Tracing for the benchmark's traced run, kept entirely outside the program.

- ``Tracer`` keeps spans (name, start, end, parent, run id) in memory; the
  run record writes them out when the run ends. A span's self time is its
  duration minus the part of its interval its child spans cover.
- ``instrument`` wraps the public functions of the package's layer modules
  (``session``, ``sources``, ``functions``, ``operators``, ``streaming``,
  ``cli``) in place, so every call into a layer opens a span named
  ``<layer>.<function>``. ``uninstrument`` puts the originals back.
- ``call_cost_s`` measures the time one traced call adds, from which the
  run reports its tracing overhead.
- ``SparkCounters`` reads one operation's jobs and stages from Spark's
  status REST API, selected by the job group the benchmark sets.
- ``StreamProgress`` is a ``StreamingQueryListener`` that keeps each
  micro-batch's ``durationMs`` breakdown.
- ``tree_snapshot`` / ``tree_delta`` walk a directory before and after a
  call to count the files and bytes the call wrote.
"""

from __future__ import annotations

import importlib
import inspect
import json
import os
import pkgutil
import statistics
import sys
import threading
import time
import urllib.request
from dataclasses import dataclass, field

PACKAGE = "tf_idf_mapreduce_spark"

#: The package modules the traced run times calls into, by layer name.
LAYERS = ("session", "sources", "functions", "operators", "streaming", "cli")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    id: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


@dataclass
class Tracer:
    """In-memory span recorder for one client thread."""

    run_id: str
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def open(self, name: str) -> int:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.run_id, sid))
        self._stack.append(sid)
        return sid

    def close(self, sid: int) -> None:
        self.spans[sid].end = time.perf_counter()
        self._stack.remove(sid)

    def span(self, name: str) -> "_SpanCtx":
        return _SpanCtx(self, name)

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def self_time(self, sid: int) -> float:
        s = self.spans[sid]
        kids = [(c.start, c.end) for c in self.children(sid)]
        return s.duration - covered(kids, s.start, s.end)

    def layer_times(self, root: int) -> dict[str, dict[str, float]]:
        """Per layer under span ``root``: total self time and the summed
        duration of calls named ``<layer>.<function>`` per function."""
        out: dict[str, dict[str, float]] = {}
        below = descendants(self.spans, root)
        for s in below:
            layer, _, fn = s.name.partition(".")
            if layer not in LAYERS:
                continue
            d = out.setdefault(layer, {"self": 0.0})
            d["self"] += self.self_time(s.id)
            d[fn] = d.get(fn, 0.0) + s.duration
        return out


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self) -> int:
        self.sid = self.tracer.open(self.name)
        return self.sid

    def __exit__(self, *exc) -> None:
        self.tracer.close(self.sid)


def descendants(spans: list[Span], root: int) -> list[Span]:
    keep = {root}
    out = []
    for s in spans[root + 1 :]:  # children are always opened after parents
        if s.parent in keep:
            keep.add(s.id)
            out.append(s)
    return out


# --------------------------------------------------------------------------
# layer instrumentation
# --------------------------------------------------------------------------


def _original(module: str, name: str):
    """Unpickling target of a traced function: the plain function, as a
    worker process that never installed tracing imports it."""
    fn = getattr(importlib.import_module(module), name)
    return getattr(fn, "__wrapped__", fn)


class Traced:
    """A package function that opens a span on every call. Pickles as the
    original function, so a closure shipped to a Spark worker never carries
    the tracer."""

    def __init__(self, fn, span_name: str, tracer: Tracer):
        self.__wrapped__ = fn
        self.span_name = span_name
        self.tracer = tracer
        self.__name__ = fn.__name__
        self.__qualname__ = fn.__qualname__
        self.__module__ = fn.__module__
        self.__doc__ = fn.__doc__

    def __call__(self, *args, **kwargs):
        with self.tracer.span(self.span_name):
            return self.__wrapped__(*args, **kwargs)

    def __reduce__(self):
        return (_original, (self.__module__, self.__name__))


def call_cost_s(calls: int = 20000, repeats: int = 5) -> float:
    """Seconds a ``Traced`` wrapper adds to one call: a traced no-op
    against a bare one, the median over ``repeats`` timings of ``calls``
    calls each."""

    def noop():
        pass

    traced = Traced(noop, "cost.noop", Tracer(run_id="cost"))
    costs = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        for _ in range(calls):
            noop()
        t1 = time.perf_counter()
        for _ in range(calls):
            traced()
        t2 = time.perf_counter()
        traced.tracer.spans.clear()
        costs.append(max(0.0, (t2 - t1) - (t1 - t0)) / calls)
    return statistics.median(costs)


def layer_modules() -> dict[str, list]:
    """Every module of each layer, imported."""
    out: dict[str, list] = {}
    for layer in LAYERS:
        mod = importlib.import_module(f"{PACKAGE}.{layer}")
        mods = [mod]
        if hasattr(mod, "__path__"):
            for info in pkgutil.iter_modules(mod.__path__, f"{mod.__name__}."):
                mods.append(importlib.import_module(info.name))
        out[layer] = mods
    return out


def _is_public_function(mod, name: str, obj) -> bool:
    return (
        not name.startswith("_")
        and inspect.isfunction(obj)
        and obj.__module__ == mod.__name__
        # pandas UDFs and other engine-registered callables stay untouched
        and not hasattr(obj, "evalType")
    )


def instrument(tracer: Tracer) -> dict:
    """Wrap every public function of the layer modules, and rebind each
    reference to it that another package module (or the registry module
    ``__spark_entry__``) imported by name. Returns the undo map."""
    wrapped: dict[int, Traced] = {}
    for layer, mods in layer_modules().items():
        for mod in mods:
            for name, obj in list(vars(mod).items()):
                if _is_public_function(mod, name, obj):
                    wrapped[id(obj)] = Traced(obj, f"{layer}.{name}", tracer)
    undo: dict = {}
    holders = [
        m
        for n, m in list(sys.modules.items())
        if m is not None
        and (n == PACKAGE or n.startswith(f"{PACKAGE}.") or n == "__spark_entry__")
    ]
    for mod in holders:
        for name, obj in list(vars(mod).items()):
            w = wrapped.get(id(obj))
            if w is not None:
                undo[(mod, name)] = obj
                setattr(mod, name, w)
    return undo


def uninstrument(undo: dict) -> None:
    for (mod, name), obj in undo.items():
        setattr(mod, name, obj)


# --------------------------------------------------------------------------
# Spark counters
# --------------------------------------------------------------------------

_STAGE_SUMS = {
    "tasks": "numTasks",
    "failed_tasks": "numFailedTasks",
    "executor_run_ms": "executorRunTime",
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
    "gc_ms": "jvmGcTime",
}


def _parse_ts(s: str | None) -> float | None:
    """Spark REST timestamps (``2026-01-02T03:04:05.678GMT``) to epoch s."""
    if not s:
        return None
    import calendar

    base, _, ms = s.replace("GMT", "").partition(".")
    t = calendar.timegm(time.strptime(base, "%Y-%m-%dT%H:%M:%S"))
    return t + (int(ms) / 1000.0 if ms else 0.0)


class SparkCounters:
    """Jobs and stages of one job group, from the status REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = int(sc.uiWebUrl.rsplit(":", 1)[1])
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def collect(self, group: str, t0: float, t1: float) -> dict:
        """Counters for the jobs of ``group`` plus any job submitted inside
        ``[t0, t1]`` (stream micro-batches run under the stream's own
        group). Waits until the status store has seen every job end."""
        deadline = time.time() + 10
        while True:
            jobs = [
                j
                for j in self._get("/jobs")
                if j.get("jobGroup") == group
                or t0 <= (_parse_ts(j.get("submissionTime")) or 0) <= t1
            ]
            if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
                break
            time.sleep(0.05)
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        out = {k: 0 for k in _STAGE_SUMS}
        out.update(jobs=len(jobs), stages=0, scan_tasks=0)
        for sid in stage_ids:
            for att in self._get(f"/stages/{sid}"):
                if att["status"] in ("SKIPPED", "PENDING"):
                    continue
                out["stages"] += 1
                for k, src in _STAGE_SUMS.items():
                    out[k] += att.get(src, 0)
                if att.get("inputBytes", 0) > 0:
                    out["scan_tasks"] += att["numTasks"]
        intervals = []
        for j in jobs:
            a = _parse_ts(j.get("submissionTime"))
            b = _parse_ts(j.get("completionTime"))
            if a is not None and b is not None:
                intervals.append((a, b))
        out["job_intervals"] = intervals
        return out


class StreamProgress:
    """Collects every micro-batch's progress; safe to read from the client
    thread while the listener thread appends."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with outer.lock:
                    outer.batches.append(dict(event.progress.durationMs))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer.lock:
                    outer.terminated += 1

        self.lock = threading.Lock()
        self.batches: list[dict] = []
        self.terminated = 0
        self.listener = _Listener()

    def mark(self) -> tuple[int, int]:
        with self.lock:
            return len(self.batches), self.terminated

    def since(self, mark: tuple[int, int], timeout: float = 10.0) -> list[dict]:
        """Batches reported after ``mark``, once the query that ran since
        then has reported its termination."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self.lock:
                if self.terminated > mark[1]:
                    break
            time.sleep(0.02)
        with self.lock:
            return list(self.batches[mark[0] :])


# --------------------------------------------------------------------------
# directory deltas
# --------------------------------------------------------------------------


def tree_snapshot(root: str, prefix: str = "") -> dict[str, tuple[int, float]]:
    """path -> (size, mtime) of every file under ``root`` whose top-level
    entry starts with ``prefix``."""
    snap: dict[str, tuple[int, float]] = {}
    if not os.path.isdir(root):
        return snap
    for top in os.listdir(root):
        if not top.startswith(prefix):
            continue
        p = os.path.join(root, top)
        walk = os.walk(p) if os.path.isdir(p) else [(root, [], [top])]
        for d, _, files in walk:
            for f in files:
                fp = os.path.join(d, f)
                try:
                    st = os.stat(fp)
                except FileNotFoundError:
                    continue
                snap[fp] = (st.st_size, st.st_mtime)
    return snap


def tree_delta(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) present in ``after`` that are new or changed."""
    new = [p for p, v in after.items() if before.get(p) != v]
    return len(new), sum(after[p][0] for p in new)
