"""Span recorder and Spark-side counters for the traced run.

Spans are recorded from the benchmark's own files only: :meth:`Tracer.wrap`
replaces a function or method at the place its caller looks it up (for
example ``elastic_surv_spark.models.base.concordance_td``, the name
``SurvModel.score`` calls, not only the defining module's attribute), and
:meth:`Tracer.restore` puts every original back. Each span holds a name,
start, end, its own id and the id of the span that was open when it began
(per thread; a span opened on a worker thread with nothing open there
takes the main thread's innermost open span as its parent). Spans stay in
memory and are written out once, at exit, with each name's self time.

Spark counters are read from outside the program: job and stage counts
from ``statusTracker`` (job ids created while a phase ran), whole-stage
codegen compiles from ``CodegenMetrics``, GC milliseconds from the JVM's
GC MXBeans, peak resident memory of the JVM from ``/proc/<pid>/status``
``VmHWM``, and cached storage from ``getRDDStorageInfo``.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Span recorder; a disabled tracer records nothing (the untraced run)."""

    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._next_id = 1
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ------------------------------------------------------------
    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def begin(self, name: str) -> dict:
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            parent = self._main_stack[-1] if self._main_stack else 0
        with self._lock:
            span = {"id": self._next_id, "parent": parent, "name": name,
                    "start": time.perf_counter(), "end": None}
            self._next_id += 1
            self.spans.append(span)
        stack.append(span["id"])
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] == span["id"]:
            stack.pop()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = self.begin(name)
        try:
            yield s
        finally:
            self.end(s)

    # -- patching ---------------------------------------------------------
    def wrap(self, owner, attr: str, name) -> None:
        """Record a span around every call of ``owner.attr`` (a function,
        method or classmethod). ``name`` is a string or a callable
        ``(args, kwargs) -> str``."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        is_classmethod = isinstance(raw, classmethod)
        func = raw.__func__ if is_classmethod else raw

        @functools.wraps(func)
        def traced(*args, **kwargs):
            span = self.begin(name(args, kwargs) if callable(name) else name)
            try:
                return func(*args, **kwargs)
            finally:
                self.end(span)

        setattr(owner, attr, classmethod(traced) if is_classmethod else traced)
        self._patched.append((owner, attr, raw))

    def restore(self) -> None:
        while self._patched:
            owner, attr, raw = self._patched.pop()
            setattr(owner, attr, raw)

    # -- derived figures --------------------------------------------------
    def closed(self) -> list[dict]:
        return [s for s in self.spans if s["end"] is not None]

    def totals(self, exclude_under: str | None = None) -> dict[str, dict]:
        """name -> {n, total, self, durations}, leaving out spans that have
        an ancestor named ``exclude_under``. Self time is a span's duration
        minus the part of its interval its child spans cover (children on
        other threads included, overlapping children merged)."""
        spans = self.closed()
        by_id = {s["id"]: s for s in spans}
        children: dict[int, list[dict]] = defaultdict(list)
        for s in spans:
            children[s["parent"]].append(s)

        def excluded(s: dict) -> bool:
            parent = by_id.get(s["parent"])
            while parent is not None:
                if parent["name"] == exclude_under:
                    return True
                parent = by_id.get(parent["parent"])
            return False

        out: dict[str, dict] = {}
        for s in spans:
            if exclude_under and excluded(s):
                continue
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            dur = s["end"] - s["start"]
            agg = out.setdefault(s["name"], {"n": 0, "total": 0.0, "self": 0.0, "durations": []})
            agg["n"] += 1
            agg["total"] += dur
            agg["self"] += dur - covered
            agg["durations"].append(dur)
        return out

    def dump(self, path: str) -> None:
        """Write the spans and, per span name, count, total and self seconds."""
        by_name = {name: {k: agg[k] for k in ("n", "total", "self")}
                   for name, agg in self.totals().items()}
        with open(path, "w") as f:
            json.dump({"spans": self.closed(), "by_name": by_name}, f)


class SparkCounters:
    """Cumulative JVM-side counters, read as deltas around a phase."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.tracker = self.sc.statusTracker()
        self.groups: set[str] = set()
        self.pid = int(self.jvm.ProcessHandle.current().pid())

    def set_group(self, group: str) -> None:
        self.groups.add(group)
        self.sc.setJobGroup(group, group)

    def job_ids(self) -> set[int]:
        ids: set[int] = set(self.tracker.getJobIdsForGroup(None))
        for g in self.groups:
            ids.update(self.tracker.getJobIdsForGroup(g))
        return ids

    def codegen(self) -> tuple[int, float]:
        hist = self.jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        return int(hist.getCount()), float(hist.getSnapshot().getMean())

    def gc_ms(self) -> int:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(int(b.getCollectionTime()) for b in beans)

    def snapshot(self) -> dict:
        compiles, mean_ms = self.codegen()
        return {"jobs": self.job_ids(), "compiles": compiles,
                "compile_mean_ms": mean_ms, "gc_ms": self.gc_ms()}

    def delta(self, before: dict) -> dict:
        after = self.snapshot()
        new_jobs = after["jobs"] - before["jobs"]
        stages = 0
        for j in new_jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages += len(info.stageIds)
        compiles = after["compiles"] - before["compiles"]
        return {
            "jobs": len(new_jobs),
            "stages": stages,
            "compiles": compiles,
            # the histogram keeps a sampled reservoir, so the milliseconds
            # are the count times the reservoir's mean compile time
            "compile_ms": compiles * after["compile_mean_ms"],
            "gc_ms": after["gc_ms"] - before["gc_ms"],
        }

    def rss_hwm_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM not reported for the JVM")

    def cached_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(int(i.memSize()) + int(i.diskSize()) for i in infos) / 2**20
