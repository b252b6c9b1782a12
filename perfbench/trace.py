"""Tracing for the benchmark's ``--trace 1`` runs.

Three sources, all driven from the benchmark's own files:

* spans around calls into each layer's public functions. ``Tracer``
  replaces every public function of the layer modules with a wrapper
  that records (name, layer, start, end, parent, query id), and rebinds
  the names that importing modules hold (``load_table`` inside
  ``operators.*``, the query table of ``__spark_entry__``). ``remove``
  puts the originals back, so untraced passes run the program as is;
* Spark's status store (``statusStore()`` works with the UI off), read
  per job group after each query;
* a ``StreamingQueryListener`` that keeps each micro-batch's progress.

Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import sys
import threading
import time
from dataclasses import dataclass, field

PKG = "cs422pp_mapreduce_spark"

# module (relative to the package) -> layer name used in span records
LAYER_MODULES = {
    "session": "session",
    "sources.catalog": "catalog",
    "sources.sinks": "sinks",
    "plans.explain": "plans",
    "streaming.events": "streaming",
    "streaming.dedup": "streaming",
    **{f"operators.{m}": f"operators.{m}" for m in (
        "relational", "tpch", "wordcount", "corpus", "dedup", "suffix",
        "similarity", "textops", "tokenize",
    )},
}


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str
    query: str | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    query: str | None = None
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _patched: list[tuple[object, str, object]] = field(default_factory=list)

    # -- spans ---------------------------------------------------------
    def begin(self, name: str, layer: str) -> Span:
        stack = self._stack()
        with self._lock:
            sp = Span(len(self.spans), stack[-1].id if stack else None,
                      name, layer, self.query, time.perf_counter())
            self.spans.append(sp)
        stack.append(sp)
        return sp

    def end(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is sp:
            stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        sp = self.begin(name, layer)
        try:
            yield sp
        finally:
            self.end(sp)

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    # -- instrumentation ----------------------------------------------
    def install(self) -> None:
        """Wrap every public function of the layer modules and rebind
        the names other engine modules imported."""
        originals: dict[int, object] = {}
        for rel, layer in LAYER_MODULES.items():
            mod = importlib.import_module(f"{PKG}.{rel}")
            for name, obj in list(vars(mod).items()):
                if (
                    name.startswith("_")
                    or not inspect.isfunction(obj)
                    or obj.__module__ != mod.__name__
                    or hasattr(obj, "__wrapped__")  # context managers
                ):
                    continue
                originals[id(obj)] = self._wrap(obj, layer)
        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "")
            if not (mname == PKG or mname.startswith(PKG + ".")
                    or mname == "__spark_entry__"):
                continue
            for name, obj in list(vars(mod).items()):
                wrapper = originals.get(id(obj))
                if wrapper is not None:
                    self._patched.append((mod, name, obj))
                    setattr(mod, name, wrapper)
        entry = sys.modules.get("__spark_entry__")
        if entry is not None:
            table = entry._QUERIES
            for name, obj in list(table.items()):
                wrapper = originals.get(id(obj))
                if wrapper is not None:
                    self._patched.append((table, name, obj))
                    table[name] = wrapper

    def remove(self) -> None:
        for target, name, obj in reversed(self._patched):
            if isinstance(target, dict):
                target[name] = obj
            else:
                setattr(target, name, obj)
        self._patched.clear()

    def _wrap(self, fn, layer: str):
        tracer = self
        label = f"{layer}.{fn.__name__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sp = tracer.begin(label, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(sp)

        return traced

    # -- analysis ------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part its children cover."""
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        return {
            sp.id: sp.dur - covered(sp, kids.get(sp.id, []))
            for sp in self.spans
        }

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def dump(self) -> list[dict]:
        t0 = self.spans[0].start if self.spans else 0.0
        return [
            {"id": s.id, "parent": s.parent, "name": s.name,
             "layer": s.layer, "query": s.query,
             "start": round(s.start - t0, 6), "end": round(s.end - t0, 6)}
            for s in self.spans
        ]


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def covered(parent: Span, kids: list[Span]) -> float:
    """Seconds of ``parent`` that its kids' spans cover."""
    return union_length(((k.start, k.end) for k in kids),
                        parent.start, parent.end)


# -- Spark status store ---------------------------------------------------


class StatusReader:
    """Per-job-group metrics from the Spark driver's AppStatusStore."""

    def __init__(self, spark):
        self.spark = spark
        jvm = spark.sparkContext._jvm
        self._cc = jvm.scala.jdk.javaapi.CollectionConverters
        self._store = spark._jsc.sc().statusStore()
        gw = spark.sparkContext._gateway
        self._quant = gw.new_array(gw.jvm.double, 2)
        self._quant[0], self._quant[1] = 0.5, 1.0

    def _seq(self, seq) -> list:
        return list(self._cc.asJava(seq))

    def max_job_id(self) -> int:
        return max((j.jobId() for j in self._seq(self._store.jobsList(None))),
                   default=-1)

    def group(self, groups: set[str]) -> dict:
        """Totals over every job whose group is in ``groups``."""

        def in_groups(job) -> bool:
            g = job.jobGroup()
            return g.isDefined() and g.get() in groups

        return self.collect(in_groups)

    def collect(self, select) -> dict:
        """Totals over every job for which ``select(job)`` holds."""
        out = {
            "jobs": 0, "stages": 0, "tasks": 0, "tasks_failed": 0,
            "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "input_bytes": 0, "input_rows": 0, "output_bytes": 0,
            "shuffle_write": 0, "shuffle_read": 0, "fetch_wait_s": 0.0,
            "spill_mem": 0, "spill_disk": 0, "skew": 1.0,
            "intervals": [],
        }
        seen_stages: set[int] = set()
        for job in self._seq(self._store.jobsList(None)):
            if not select(job):
                continue
            out["jobs"] += 1
            out["tasks_failed"] += job.numFailedTasks()
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                end = done.get().getTime() if done.isDefined() else sub.get().getTime()
                out["intervals"].append((sub.get().getTime() / 1e3, end / 1e3))
            for sid in self._seq(job.stageIds()):
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                sd = self._store.lastStageAttempt(sid)
                if sd.status().toString() not in ("COMPLETE", "FAILED"):
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                out["run_s"] += sd.executorRunTime() / 1e3
                out["cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["input_bytes"] += sd.inputBytes()
                out["input_rows"] += sd.inputRecords()
                out["output_bytes"] += sd.outputBytes()
                out["shuffle_write"] += sd.shuffleWriteBytes()
                out["shuffle_read"] += sd.shuffleReadBytes()
                out["fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1e3
                out["spill_mem"] += sd.memoryBytesSpilled()
                out["spill_disk"] += sd.diskBytesSpilled()
                if sd.shuffleReadBytes() > 0:
                    summ = self._store.taskSummary(sid, sd.attemptId(), self._quant)
                    if summ.isDefined():
                        med, mx = self._seq(
                            summ.get().shuffleReadMetrics().readBytes()
                        )
                        if med > 0:
                            out["skew"] = max(out["skew"], mx / med)
        return out

    def cached_bytes(self) -> int:
        infos = self.spark._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)


def stream_listener(records: list):
    """A StreamingQueryListener that appends each progress, as a dict,
    to ``records``."""
    import json

    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            records.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()
