"""Spans, counters and host readings for the traced run.

Spans are kept in memory and written once when the run ends. Host figures
come from /proc (process-tree RSS and CPU time) and from the Spark JVM over
py4j (job and task counts per job group, GC time).
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """In-memory span recorder. Each span holds its name, start and end
    (perf_counter seconds), parent span id, trace id and counters."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.bookkeeping_s = 0.0  # time spent recording spans

    @contextmanager
    def span(self, name: str, **counts):
        t0 = time.perf_counter()
        sid = len(self.spans)
        rec = {
            "trace_id": self.trace_id, "span_id": sid, "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": 0.0, "end": None, "counts": dict(counts),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - t0
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.bookkeeping_s += time.perf_counter() - rec["end"]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": self_time(s, self.spans)}) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span: dict, spans: list[dict]) -> float:
    """Span duration minus the part of it that its children cover
    (overlapping children count once; children are clipped to the span)."""
    lo, hi = span["start"], span["end"]
    kids = [
        (max(lo, s["start"]), min(hi, s["end"]))
        for s in spans
        if s["parent"] == span["span_id"] and s["end"] is not None
    ]
    return (hi - lo) - _covered([k for k in kids if k[1] > k[0]])


def self_times(spans: list[dict], name: str) -> list[float]:
    return [self_time(s, spans) for s in spans if s["name"] == name]


# ------------------------------------------------------------- process tree


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree() -> list[int]:
    """This process and all its live descendants: the driver, the JVM it
    launched and the JVM's Python workers."""
    kids = _children_map()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum of VmHWM (peak resident set) over the process tree, in MB."""
    return sum(_status_kb(p, "VmHWM") for p in process_tree()) / 1024.0


def cpu_seconds() -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[11:15] = utime, stime, cutime, cstime (stat fields 14-17)
        total += sum(int(x) for x in fields[11:15])
    return total / _CLK_TCK


def process_start_epoch() -> float:
    """Wall-clock time this process was started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / _CLK_TCK


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


# ------------------------------------------------------------------- Spark


class SparkProbe:
    """Job/task counts per job group, and JVM GC time, over py4j."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = spark.sparkContext._jvm

    def gc_seconds(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def jobs_and_tasks(self, group: str) -> tuple[int, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                stage = tracker.getStageInfo(sid)
                tasks += stage.numTasks if stage else 0
        return len(jobs), tasks


class Phase:
    """One measured phase (ingest / query / extract) of a traced run: wall,
    process-tree CPU, GC and the Spark jobs submitted under its job group."""

    def __init__(self, probe: SparkProbe, name: str, nproc: int):
        self.probe, self.name, self.nproc = probe, name, nproc
        self.group = f"perfbench-{name}"
        self.wall = self.cpu = self.gc = 0.0
        self.probe_s = 0.0  # time spent reading the counters themselves

    @contextmanager
    def active(self):
        p0 = time.perf_counter()
        self.probe.sc.setJobGroup(self.group, self.name)
        c0, g0 = cpu_seconds(), self.probe.gc_seconds()
        t0 = time.perf_counter()
        self.probe_s += t0 - p0
        try:
            yield self
        finally:
            t1 = time.perf_counter()
            self.wall += t1 - p0
            self.gc += self.probe.gc_seconds() - g0
            self.cpu += cpu_seconds() - c0
            self.probe.sc.setJobGroup("perfbench-idle", "idle")
            self.probe_s += time.perf_counter() - t1
            self.wall += time.perf_counter() - t1

    def metrics(self) -> dict:
        jobs, tasks = self.probe.jobs_and_tasks(self.group)
        return {
            f"spark.jobs.{self.name}": (jobs, "count"),
            f"spark.tasks.{self.name}": (tasks, "count"),
            f"jvm.gc_s.{self.name}": (self.gc, "s"),
            f"cpu.util.{self.name}": (
                self.cpu / (self.wall * self.nproc) if self.wall else 0.0, "ratio"),
        }
