"""Measurement helpers: spans, Spark job counts, process-tree memory.

Spans are recorded by the benchmark around its own calls into each layer
of the program (name, start, end, parent, trace id), kept in memory and
written out as JSON lines when the run ends.  A disabled tracer records
nothing.
"""

from __future__ import annotations

import contextlib
import gc
import itertools
import json
import os
import statistics
import threading
import time


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, trace_id: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": trace_id or (parent["trace"] if parent else name),
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.spans.append(rec)

    def self_times_ms(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of the
        interval covered by child spans."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, last = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, last), min(b, s["end"])
                if b > a:
                    covered += b - a
                    last = b
            own = (s["end"] - s["start"] - covered) * 1000.0
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class JobCounter:
    """Spark job / stage / task counts of one job group, read from the
    public ``StatusTracker`` after the group's work has finished."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()

    @contextlib.contextmanager
    def group(self, name: str):
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def counts(self, group: str | None) -> dict[str, int]:
        jobs = self.tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for sid in info.stageIds if info else []:
                st = self.tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def _cmd(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().split(b"\0", 1)[0].decode(errors="replace")
    except OSError:
        return ""


def _ppid_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> list[int]:
    kids = _ppid_map()
    out, todo = [], list(kids.get(root, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _counted(root: int) -> list[int]:
    """This process, its direct children (the JVM) and every Python
    process below them (the PySpark daemon and workers).  Other processes
    the JVM spawns are left out: until they exec, they report the JVM's
    own pages as theirs."""
    kids = _ppid_map()
    out, todo = [root], list(kids.get(root, []))
    out += todo
    while todo:
        for c in kids.get(todo.pop(), []):
            todo.append(c)
            if os.path.basename(_cmd(c)).startswith("python"):
                out.append(c)
    return out


class RssSampler:
    """Peak resident memory of this process, the JVM and the Python
    workers, summed, sampled every ``interval`` s."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.sample(me)
            self._stop.wait(self.interval)

    def sample(self, me: int | None = None) -> None:
        total = sum(_rss_kb(p) for p in _counted(me or os.getpid()))
        self.peak_kb = max(self.peak_kb, total)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_kb / 1024.0


def live_memory_mb(spark) -> dict[str, float]:
    """Memory the processes hold for live data, independent of when the
    JVM's garbage collector last grew or shrank its heap, in MB: the JVM
    heap in use once full collections stop freeing memory, the JVM's
    non-heap in use (metaspace, code cache), and the resident memory of
    this process and the Python workers."""
    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getMemoryMXBean()
    # Spark frees shuffle, broadcast and listener data on background
    # threads once their references die, over a few seconds: collect
    # until the heap stops shrinking.  Python first, since a collected
    # proxy releases its JVM object.
    heap: list[int] = []
    for _ in range(8):
        gc.collect()
        mx.gc()
        heap.append(mx.getHeapMemoryUsage().getUsed())
        if len(heap) > 1 and heap[-2] - heap[-1] < 2**20:
            break
        time.sleep(0.5)
    py_kb = sum(_rss_kb(p) for p in _counted(os.getpid()) if p != jvm_pid)
    return {"jvm_heap_live_mb": min(heap) / 2**20,
            "jvm_nonheap_mb": mx.getNonHeapMemoryUsage().getUsed() / 2**20,
            "python_rss_mb": py_kb / 1024.0}


def pct(values: list[float], q: float) -> float:
    """Percentile by linear interpolation (``q`` in [0, 100])."""
    if not values:
        return float("nan")
    v = sorted(values)
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")
