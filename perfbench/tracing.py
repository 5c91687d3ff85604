"""Spans recorded around the library's public calls, and the reader that folds
Spark's uncompressed event log into per-span task metrics.

A span sets the Spark job group to its name, so jobs submitted from the
calling thread carry it, and reads the JVM's garbage-collection time at
both ends. Jobs the library submits from its own worker
threads carry no group; spans never overlap, so such a job belongs to the
span whose wall interval contains its submission time.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

# Spark SQL metric names of the Arrow boundary (PythonSQLMetrics)
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"

EVENTLOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
}


class Spans:
    """Sequential named spans: name -> list of (start_ms, end_ms)."""

    def __init__(self, sc):
        self.sc = sc
        self.intervals: list[tuple[str, float, float]] = []
        self.gc_s: dict[str, float] = defaultdict(float)

    def _jvm_gc_ms(self) -> int:
        """Collection time of every JVM garbage collector so far. In local
        mode the executors run inside the driver JVM, so this covers tasks
        and driver-side planning alike."""
        mgmt = self.sc._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mgmt.getGarbageCollectorMXBeans())

    @contextmanager
    def span(self, name: str):
        self.sc.setJobGroup(name, name)
        gc0, t0 = self._jvm_gc_ms(), time.time()
        try:
            yield
        finally:
            self.intervals.append((name, t0 * 1000.0, time.time() * 1000.0))
            self.gc_s[name] += (self._jvm_gc_ms() - gc0) / 1000.0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def wall_s(self, name: str) -> float:
        return sum(e - s for n, s, e in self.intervals if n == name) / 1000.0

    def covered_s(self, names) -> tuple[float, float]:
        """(seconds inside the named spans, seconds from the first of them
        starting to the last ending)."""
        iv = [(s, e) for n, s, e in self.intervals if n in names]
        if not iv:
            return 0.0, 0.0
        inside = sum(e - s for s, e in iv)
        return inside / 1000.0, (max(e for _, e in iv) - min(s for s, _ in iv)) / 1000.0

    def owner(self, group: str | None, submitted_ms: float) -> str | None:
        names = {n for n, _, _ in self.intervals}
        if group in names:
            return group
        for n, s, e in self.intervals:
            if s <= submitted_ms <= e:
                return n
        return None


def read_events(log_dir: str):
    """Yield every event of the (single) application logged under log_dir;
    handles both the rolling (eventlog_v2_*/events_*) and the flat layout."""
    files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")))
    files = files or sorted(
        p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)
    )
    for path in files:
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def fold_by_span(log_dir: str, spans: Spans) -> dict:
    """span name -> {jobs, task_cpu_s, spill_mb, shuffle_write_mb,
    python_mb} summed over the span's tasks. (GC is read per span from the
    JVM instead: concurrent local-mode tasks each report the same pauses.)"""
    stage_owner: dict[int, str] = {}
    jobs: dict[str, set] = defaultdict(set)
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for ev in read_events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            name = spans.owner(group, ev.get("Submission Time", 0))
            if name is None:
                continue
            jobs[name].add(ev["Job ID"])
            for sid in ev.get("Stage IDs", []):
                stage_owner.setdefault(sid, name)
        elif kind == "SparkListenerTaskEnd":
            name = stage_owner.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if name is None or not m:
                continue
            acc = out[name]
            acc["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            acc["spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / 1e6
            sw = m.get("Shuffle Write Metrics") or {}
            acc["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
            for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                if a.get("Name") in (PY_SENT, PY_RECEIVED):
                    acc["python_mb"] += float(a.get("Update") or 0) / 1e6
    result = {}
    for name in {n for n, _, _ in spans.intervals}:
        stats = {k: 0.0 for k in ("task_cpu_s", "spill_mb", "shuffle_write_mb", "python_mb")}
        stats.update(out.get(name, {}))
        stats["jobs"] = len(jobs.get(name, ()))
        result[name] = stats
    return result
