"""Benchmark-side tracing: spans around calls into the program's layers,
Spark job/stage/shuffle counts per span, and JVM runtime samples.

Spans are kept in memory and written as JSON when the run ends. Each span
has a name, the layer (module) it measures, start and end (epoch seconds),
its parent span and a trace id (the micro-batch id, or the phase name).
With tracing off, :meth:`Tracer.span` records nothing.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Spans of one run; every method is a no-op when disabled."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, layer: str, trace: object = None):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if trace is None:
            trace = parent["trace"] if parent else "run"
        rec = {
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "name": name,
            "layer": layer,
            "trace": str(trace),
            "start": time.time(),
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["dur"] = rec["end"] - rec["start"]
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def add(self, name: str, layer: str, trace: object, start: float, end: float):
        """Record a span measured elsewhere (a micro-batch trigger, read from
        the query's progress)."""
        if self.enabled:
            with self._lock:
                self.spans.append(
                    {"id": next(self._ids), "parent": None, "name": name,
                     "layer": layer, "trace": str(trace),
                     "start": start, "end": end, "dur": end - start}
                )

    def wrap(self, owner: object, attr: str, layer: str, trace_of=None, after=None):
        """Replace ``owner.attr`` by a wrapper that records a span around
        each call; ``trace_of(args, kwargs)`` picks the trace id and
        ``after(span, args, kwargs)`` may annotate the call once its span
        has closed, so the span's time is the call's alone."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            trace = trace_of(args, kwargs) if trace_of else None
            with self.span(f"{layer}.{attr}", layer, trace) as rec:
                out = orig(*args, **kwargs)
            if after is not None:
                after(rec, args, kwargs)
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_times(self, since: float = 0.0) -> dict[str, float]:
        """Seconds per layer spent in a span but outside its child spans.
        A span opened on another thread (a micro-batch running on the
        stream's thread) is the child of the innermost span enclosing it."""
        parent = {s["id"]: s["parent"] for s in self.spans}
        for s in self.spans:
            if parent[s["id"]] is None:
                outer = [o for o in self.spans if o is not s
                         and o["start"] <= s["start"] and s["end"] <= o["end"]]
                if outer:
                    parent[s["id"]] = max(outer, key=lambda o: (o["start"], -o["end"]))["id"]
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if parent[s["id"]] is not None:
                children.setdefault(parent[s["id"]], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s["start"] < since:
                continue
            covered = _union(
                [(c["start"], c["end"]) for c in children.get(s["id"], [])],
                s["start"], s["end"],
            )
            out[s["layer"]] = out.get(s["layer"], 0.0) + max(s["dur"] - covered, 0.0)
        return out

    def attach_jobs(self, jobs: list[dict]) -> None:
        """Charge each Spark job to the innermost span open when it was
        submitted (jobs of one workload run on one driver thread at a time)."""
        ordered = sorted(self.spans, key=lambda s: s["start"])
        for s in ordered:
            s.update(jobs=0, stages=0, shuffle_bytes=0)
        for j in jobs:
            best = None
            for s in ordered:
                if s["start"] <= j["submitted"] <= s["end"] and (
                    best is None or s["start"] >= best["start"]
                ):
                    best = s
            if best is not None:
                best["jobs"] += 1
                best["stages"] += j["stages"]
                best["shuffle_bytes"] += j["shuffle_bytes"]

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f)


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
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


def spark_jobs(spark) -> list[dict]:
    """Every job the status store still holds: submission time (epoch s),
    stage count and shuffle bytes (read + written) of its stages."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    stages = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
    shuffle = {}
    for i in range(stages.length()):
        st = stages.apply(i)
        shuffle[st.stageId()] = st.shuffleWriteBytes() + st.shuffleReadBytes()
    jobs = store.jobsList(None)
    out = []
    for i in range(jobs.length()):
        j = jobs.apply(i)
        sub = j.submissionTime()
        if sub.isEmpty():
            continue
        ids = j.stageIds()
        stage_ids = [ids.apply(k) for k in range(ids.length())]
        out.append(
            {
                "job": j.jobId(),
                "submitted": sub.get().getTime() / 1000.0,
                "stages": len(stage_ids),
                "shuffle_bytes": sum(shuffle.get(s, 0) for s in stage_ids),
            }
        )
    return out


class Jvm:
    """Driver JVM runtime counters through the management beans."""

    def __init__(self, spark):
        self._mf = spark._jvm.java.lang.management.ManagementFactory
        self.pid = spark._jvm.ProcessHandle.current().pid()

    def jit_s(self) -> float:
        return self._mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0

    def gc_s(self) -> float:
        return sum(
            g.getCollectionTime() for g in self._mf.getGarbageCollectorMXBeans()
        ) / 1000.0

    def heap_peak_mb(self) -> float:
        return sum(
            p.getPeakUsage().getUsed()
            for p in self._mf.getMemoryPoolMXBeans()
            if str(p.getType()) == "Heap memory"
        ) / 2**20

    def vm_hwm_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")
