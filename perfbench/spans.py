"""Spans and Spark counters, recorded from outside the program.

A :class:`Counters` snapshot reads the engine's cost counters through
py4j: the job count from the DAG scheduler, task/input/shuffle totals
from the status store's executor summary (local mode has the one
``driver`` executor), and JVM GC time from the GC MXBeans. A span's
counters are the deltas of two snapshots taken around the call.

A :class:`Tracer` keeps spans in memory (name, start, end, parent, run
id, counter deltas) and writes them out once, at the end of the run.
Only the traced run creates one; untraced runs pay nothing.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import threading
import time

COUNTERS = ("jobs", "tasks", "input_bytes", "shuffle_bytes", "gc_ms")


class Counters:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        jvm = spark.sparkContext._jvm
        self._gc_beans = list(jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())

    def jobs(self) -> int:
        return int(self._sc.dagScheduler().numTotalJobs())

    def snapshot(self) -> dict:
        # task metrics reach the status store through the listener bus;
        # drain it so a delta covers every task the call ran
        self._sc.listenerBus().waitUntilEmpty()
        e = self._sc.statusStore().executorSummary("driver")
        return {
            "jobs": self.jobs(),
            "tasks": int(e.totalTasks()),
            "input_bytes": int(e.totalInputBytes()),
            "shuffle_bytes": int(e.totalShuffleWrite()),
            "gc_ms": sum(int(b.getCollectionTime()) for b in self._gc_beans),
        }


class Tracer:
    """In-memory span recorder. Spans opened on the main thread nest;
    a span opened on a worker thread (the engine overlaps some writes
    from driver threads) takes the main thread's open span as parent."""

    def __init__(self, counters: Counters, run_id: str) -> None:
        self.counters = counters
        self.run_id = run_id
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time spent taking snapshots
        self.timed = False  # set once the warm pass is over
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._t0 = time.perf_counter()

    def _snap(self) -> dict:
        t = time.perf_counter()
        c = self.counters.snapshot()
        with self._lock:
            self.overhead_s += time.perf_counter() - t
        return c

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        main = threading.current_thread() is threading.main_thread()
        c0 = self._snap()
        with self._lock:
            rec = {"id": len(self.spans), "name": name, "run": self.run_id,
                   "parent": self._stack[-1] if self._stack else None,
                   "timed": self.timed, **attrs}
            self.spans.append(rec)
            if main:
                self._stack.append(rec["id"])
        start = time.perf_counter()
        try:
            yield rec
        finally:
            end = time.perf_counter()
            if main:
                with self._lock:
                    self._stack.pop()
            c1 = self._snap()
            rec["start"] = start - self._t0
            rec["end"] = end - self._t0
            rec["s"] = end - start
            rec.update({k: c1[k] - c0[k] for k in COUNTERS})

    def named(self, name: str) -> list[dict]:
        """Spans of the timed phase with this name."""
        return [s for s in self.spans if s["name"] == name and s["timed"]]

    def median(self, name: str, key: str = "s") -> float:
        vals = [s[key] for s in self.named(name) if key in s]
        return float(statistics.median(vals)) if vals else 0.0

    def self_times(self) -> dict[str, float]:
        """Seconds per layer (the span name's first component) spent in
        the layer itself: each span's duration minus the union of its
        children's intervals."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if "end" not in s or not s["timed"]:
                continue
            covered, cur = 0.0, None
            for a, b in sorted((max(k["start"], s["start"]), min(k["end"], s["end"]))
                               for k in kids.get(s["id"], []) if "end" in k):
                if cur is None or a > cur[1]:
                    if cur:
                        covered += cur[1] - cur[0]
                    cur = [a, b]
                else:
                    cur[1] = max(cur[1], b)
            if cur:
                covered += max(0.0, cur[1] - cur[0])
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + max(0.0, s["s"] - covered)
        return out

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s, sort_keys=True) + "\n")


class NullTracer:
    """The untraced run's tracer: spans cost one context-manager entry."""

    timed = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield {}


def wrap_method(tracer: Tracer, cls, method: str, span_name: str):
    """Record a span around every call of ``cls.method`` (traced run
    only); returns an undo callable."""
    orig = getattr(cls, method)

    def traced(*a, **kw):
        with tracer.span(span_name):
            return orig(*a, **kw)

    setattr(cls, method, traced)
    return lambda: setattr(cls, method, orig)


def wrap_lease(tracer: Tracer, lease_mod):
    """Count directory-lease acquisitions and time the acquire step
    (the wait before the ``with`` body runs); returns an undo callable."""
    orig = lease_mod.dir_lease

    @contextlib.contextmanager
    def traced(path, **kw):
        with tracer.span("lease.acquire"):
            cm = orig(path, **kw)
            cm.__enter__()
        try:
            yield
        except BaseException as exc:
            if not cm.__exit__(type(exc), exc, exc.__traceback__):
                raise
        else:
            cm.__exit__(None, None, None)

    lease_mod.dir_lease = traced
    return lambda: setattr(lease_mod, "dir_lease", orig)
