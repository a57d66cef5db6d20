"""Measurement plumbing shared by the benchmark's workloads.

Nothing here imports sparksent; the workloads call into the program and
use these pieces to time, trace and account for what it did:

- ``ProcTree``: CPU seconds and memory (PSS) of the driver, the JVM
  and every Python worker under it, read from ``/proc``;
- ``Tracer``: spans kept in memory, with per-layer self time;
- ``Jobs``: Spark job, stage and task counts per job group, from the
  status tracker;
- percentile helpers that carry their sample count.
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float, float] | None:
    """(ppid, own cpu s, reaped-children cpu s) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is field 3 (state) of proc(5): ppid=4, utime..cstime=14..17
    ppid = int(fields[1])
    own = (int(fields[11]) + int(fields[12])) / _TICK
    reaped = (int(fields[13]) + int(fields[14])) / _TICK
    return ppid, own, reaped


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared between the forked Python
    workers count once in total, not once per worker as in RSS."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class ProcTree:
    """CPU and memory of this process, the JVM and the JVM's descendants.

    Python workers are forked by the pyspark daemon and may exit at any
    time (idle workers are reaped). A worker's CPU therefore counts as its
    own time while it lives and as its parent's reaped-children time once
    it has exited and been waited for, so the worker total below only
    grows. A naive sum over live workers drops an exited worker's CPU and
    can go backwards across a pass."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak_mem = 0
        self.samples: list[int] | None = None  # collected while not None
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def descendants(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    children.setdefault(st[0], []).append(int(name))
        out, todo = [], [self.jvm_pid]
        while todo:
            kids = children.get(todo.pop(), [])
            out.extend(kids)
            todo.extend(kids)
        return out

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds: jvm, pyworker (all JVM descendants, live
        and reaped) and driver (this process)."""
        jvm = _stat(self.jvm_pid)
        workers = jvm[2] if jvm else 0.0
        for pid in self.descendants():
            st = _stat(pid)
            if st is not None:
                workers += st[1] + st[2]
        t = os.times()
        return {
            "jvm": jvm[1] if jvm else 0.0,
            "pyworker": workers,
            "driver": t.user + t.system,
        }

    def memory(self) -> int:
        pids = [os.getpid(), self.jvm_pid, *self.descendants()]
        return sum(_pss_bytes(p) for p in pids)

    def _sample(self, every_s: float) -> None:
        while not self._stop.wait(every_s):
            mem = self.memory()
            self.peak_mem = max(self.peak_mem, mem)
            if self.samples is not None:
                self.samples.append(mem)

    def start_sampling(self, every_s: float = 0.25) -> None:
        self.peak_mem = max(self.peak_mem, self.memory())
        self._thread = threading.Thread(target=self._sample, args=(every_s,), daemon=True)
        self._thread.start()

    def stop_sampling(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self.peak_mem = max(self.peak_mem, self.memory())


def steal_share() -> tuple[int, int]:
    """(steal ticks, all ticks) of the whole machine so far, from /proc/stat:
    the time a virtual machine's CPUs waited for the host."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def cpu_delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    return {k: after[k] - before[k] for k in before}


class Tracer:
    """Spans in memory: (id, parent, name, start, end), written at the end.

    A span's self time is its duration minus the part of it covered by its
    direct children. When disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> None:
        """Record a span measured elsewhere, e.g. a streaming trigger."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "parent": parent, "name": name,
                               "start": start, "end": end, **attrs})


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self seconds per span name: duration minus the union of the
    intervals of its direct children, clipped to the parent."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
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
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out


class Jobs:
    """Spark job, stage and task counts for a set of job groups."""

    def __init__(self, sc):
        self.tracker = sc.statusTracker()

    def count(self, groups) -> dict[str, int]:
        jobs = stages = tasks = 0
        for g in groups:
            for jid in self.tracker.getJobIdsForGroup(g):
                jobs += 1
                info = self.tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = self.tracker.getStageInfo(sid)
                    if st is not None:  # skipped stages never ran
                        stages += 1
                        tasks += st.numTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}


def gc_ms(spark) -> float:
    """Total JVM garbage-collection time so far, from JMX."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))


def tally(passes: list[dict], n_checked: int, wrong: list[str]) -> tuple[int, int]:
    """(attempted, failed): every timed operation plus every checked
    output; an operation that raised or an output that was wrong fails."""
    attempted = sum(p["ops"] for p in passes) + n_checked
    failed = sum(p["failed"] for p in passes) + len(wrong)
    return attempted, failed


def supported_percentile(n: int, min_beyond: int = 10) -> int | None:
    """Highest of p50/p75/p90/p99 with at least ``min_beyond`` samples above it."""
    best = None
    for p in (50, 75, 90, 99):
        if n * (100 - p) / 100 >= min_beyond:
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def describe(values: list[float]) -> dict:
    """Median, the highest supported percentile, and the sample count."""
    out = {"n": len(values)}
    if values:
        out["p50"] = statistics.median(values)
    p = supported_percentile(len(values))
    if p is not None and p > 50:
        out[f"p{p}"] = percentile(values, p)
    return out
