"""Measurement plumbing: spans, Spark/JVM counters, process-tree RSS,
host steal, medians and per-op deadlines.

Spans are recorded from the benchmark's side of each call into the
program (name, start, end, parent, op id), kept in memory and written
as JSON when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


# --------------------------------------------------------------------------
# statistics


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


# --------------------------------------------------------------------------
# spans


class Tracer:
    """In-memory span recorder.  Disabled, ``span`` only yields."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = {
            "name": name,
            "op": op if op is not None else (stack[-1]["op"] if stack else None),
            "parent": stack[-1]["id"] if stack else None,
            "start": time.perf_counter() - self._t0,
            **attrs,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def self_times(self) -> None:
        """Set ``self_ms`` on every span: its duration minus the part of
        its interval that its child spans cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            if "end" not in s:
                continue
            covered, cur_start, cur_end = 0.0, None, None
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                cs, ce = c["start"], c.get("end", s["end"])
                if cur_end is None or cs > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = cs, ce
                else:
                    cur_end = max(cur_end, ce)
            if cur_end is not None:
                covered += cur_end - cur_start
            s["self_ms"] = max(0.0, (s["end"] - s["start"] - covered) * 1000.0)

    def dump(self, path: str, extra: dict) -> None:
        self.self_times()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


# --------------------------------------------------------------------------
# Spark / JVM counters


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, tasks, failed tasks) of one job group, from the status
    tracker (its retention limits apply: very old jobs are forgotten)."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = failed = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        for st in info.stageIds:
            si = tracker.getStageInfo(st)
            if si is not None:
                tasks += si.numTasks
                failed += si.numFailedTasks
    return len(jobs), tasks, failed


def gc_ms(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(max(0, b.getCollectionTime()) for b in beans))


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


# --------------------------------------------------------------------------
# host


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _tree_rss_kb(root: int) -> int:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            parent[int(d)] = int(stat[stat.rindex(")") + 2:].split()[1])
        except (OSError, ValueError):
            continue
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    total = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    driver JVM and the Python workers), sampled every ``interval`` s."""

    def __init__(self, interval: float = 0.25):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._interval = interval
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(me))
            self._stop.wait(self._interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
        return self.peak_kb / 1024.0


# --------------------------------------------------------------------------
# deadlines


class Watchdog:
    """Runs each op in its own thread and Spark job group under a
    deadline.  From the deadline on it cancels the op's job group again
    and again until the op's thread returns (a job the op submits after
    a cancel would otherwise run)."""

    def __init__(self, sc, poll: float = 0.05):
        self.sc = sc
        self._ops: dict[str, float] = {}
        self._late: set[str] = set()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._poll = poll
        self._thread = threading.Thread(target=self._run, name="watchdog", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            now = time.perf_counter()
            with self._lock:
                late = [g for g, due in self._ops.items() if now >= due]
                self._late.update(late)
            for g in late:
                self.sc.cancelJobGroup(g)
            self._stop.wait(self._poll)

    def start(self) -> "Watchdog":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def call(self, group: str, deadline_s: float, grace_s: float, fn) -> tuple[dict, bool]:
        """Run ``fn()`` in job group ``group``; wait for it at most
        ``deadline_s + grace_s``.  Returns ({"value": …} or {"error": …}
        or {} when abandoned, late): an op still running after the grace
        is left to the watchdog, which keeps cancelling its jobs."""
        box: dict = {}
        done = threading.Event()

        def body() -> None:
            self.sc.setJobGroup(group, group, interruptOnCancel=True)
            try:
                box["value"] = fn()
            except Exception as e:  # noqa: BLE001 — handed to the caller
                box["error"] = e
            finally:
                with self._lock:
                    self._ops.pop(group, None)
                done.set()

        with self._lock:
            self._ops[group] = time.perf_counter() + deadline_s
        threading.Thread(target=body, name=group, daemon=True).start()
        done.wait(deadline_s + grace_s)
        with self._lock:
            late = group in self._late
        return dict(box), late
