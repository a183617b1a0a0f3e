"""Tracing from outside the package: spans around calls into each layer's
public functions, Spark job groups read back through the status tracker
and the application status store, JVM GC beans, and a py4j call
counter.

Spans live in memory and are written out when the run ends.  A layer's
self time is its span minus the part of that interval its child spans
cover."""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory spans: (id, parent, name, start, end, request)."""

    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._seq = 0

    @contextmanager
    def span(self, name: str, request: str | None = None):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            self._seq += 1
            sid = self._seq
        parent = stack[-1] if stack else None
        rec = {"id": sid, "parent": parent["id"] if parent else None,
               "name": name,
               "request": request or (parent["request"] if parent else None),
               "start": time.time(), "end": None}
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def self_times(self) -> list[dict]:
        """Each span with ``self`` = duration minus the union of its
        children's intervals (clipped to the span)."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out = []
        for s in self.spans:
            clipped = [(max(lo, s["start"]), min(hi, s["end"]))
                       for lo, hi in kids.get(s["id"], ())]
            covered = _union([(lo, hi) for lo, hi in clipped if hi > lo])
            dur = s["end"] - s["start"]
            out.append({**s, "dur": dur, "self": dur - covered})
        return out

    def write(self, path) -> None:
        with open(path, "w") as f:
            for s in self.self_times():
                f.write(json.dumps(s) + "\n")


class Py4jCounter:
    """Counts py4j commands sent to the JVM, per thread, by wrapping the
    gateway client's ``send_command``."""

    def __init__(self, spark):
        self.client = spark.sparkContext._gateway._gateway_client
        self._orig = self.client.send_command
        self._local = threading.local()

        def counted(*args, **kwargs):
            self._local.n = getattr(self._local, "n", 0) + 1
            return self._orig(*args, **kwargs)

        self.client.send_command = counted

    def thread_count(self) -> int:
        return getattr(self._local, "n", 0)

    def close(self) -> None:
        self.client.send_command = self._orig


class SparkProbe:
    """Per job group: jobs, stages, tasks, task time, shuffle and spill
    bytes and failures, from the status tracker and status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.tracker = self.sc.statusTracker()
        self.cores = self.sc.defaultParallelism
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        self._gcs = mf.getGarbageCollectorMXBeans()
        self._mem = mf.getMemoryMXBean()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def gc_seconds(self) -> float:
        return sum(self._gcs.get(i).getCollectionTime()
                   for i in range(self._gcs.size())) / 1000.0

    def heap_used_mb(self) -> float:
        return self._mem.getHeapMemoryUsage().getUsed() / 1e6

    def group_stats(self, group: str) -> dict:
        """Counters of every job in ``group``; ``first_start`` and
        ``last_end`` are epoch seconds (None when no job ran)."""
        st = {"jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0,
              "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
              "spill_bytes": 0, "failed_tasks": 0,
              "first_start": None, "last_end": None, "busy_s": 0.0}
        spans = []
        seen = set()
        for jid in self.tracker.getJobIdsForGroup(group):
            job = self.store.job(jid)
            st["jobs"] += 1
            sub = job.submissionTime()
            end = job.completionTime()
            if sub.isDefined() and end.isDefined():
                spans.append((sub.get().getTime() / 1000.0,
                              end.get().getTime() / 1000.0))
            sids = job.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — evicted or never run
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                st["stages"] += 1
                st["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                st["failed_tasks"] += sd.numFailedTasks()
                st["task_s"] += sd.executorRunTime() / 1000.0
                st["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                st["shuffle_read_bytes"] += sd.shuffleReadBytes()
                st["spill_bytes"] += (sd.memoryBytesSpilled()
                                      + sd.diskBytesSpilled())
        if spans:
            st["first_start"] = min(lo for lo, _ in spans)
            st["last_end"] = max(hi for _, hi in spans)
            st["busy_s"] = _union(spans)
        return st


def _union(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals."""
    total = 0.0
    lo = hi = None
    for a, b in sorted(intervals):
        if hi is None or a > hi:
            if hi is not None:
                total += hi - lo
            lo, hi = a, b
        else:
            hi = max(hi, b)
    if hi is not None:
        total += hi - lo
    return total


#: per-layer counters a Spark group contributes, by metric name
SPARK_KEYS = ("jobs", "stages", "tasks", "task_s", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_bytes", "failed_tasks")


class Layers:
    """Accumulates per-layer totals; ``metrics(units)`` divides them by
    the number of passes (closed loops) or requests (serve)."""

    def __init__(self):
        self.tot: dict[str, float] = defaultdict(float)
        self.peak: dict[str, float] = {}
        #: values already normalised by the workload (means per call)
        self.fixed: dict[str, float] = {}

    def add(self, key: str, value: float) -> None:
        self.tot[key] += value

    def add_spark(self, st: dict, prefix: str = "spark.") -> None:
        for k in SPARK_KEYS:
            self.tot[prefix + k] += st[k]

    def high(self, key: str, value: float) -> None:
        self.peak[key] = max(self.peak.get(key, value), value)

    def metrics(self, names: dict[str, str], units: float) -> dict:
        """``names`` maps metric -> unit; totals are divided by
        ``units``, peaks and fixed values are reported as they are."""
        out = {}
        for name, unit in names.items():
            if name in self.fixed:
                v = self.fixed[name]
            elif name in self.peak:
                v = self.peak[name]
            else:
                v = self.tot.get(name, 0.0) / max(units, 1)
            out[name] = {"value": v, "unit": unit}
        return out
