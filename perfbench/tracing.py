"""Measurement plumbing kept outside the program under test: operation
runner with output checks, in-memory spans, Spark job accounting by job
group (``statusTracker``), event-log task metrics, and process-tree RSS.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

# --- spans --------------------------------------------------------------------


class Tracer:
    """Spans kept in memory: ``(name, start, end, parent, op)``; written out
    once, at exit. Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._open[-1] if self._open else None,
            "op": op if op is not None else (self.spans[self._open[-1]]["op"] if self._open else None),
        }
        self.spans.append(rec)
        self._open.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def self_time(self, idx: int) -> float:
        """A span's duration minus the part its direct children cover."""
        s = self.spans[idx]
        kids = sum(c["end"] - c["start"] for c in self.spans if c["parent"] == idx)
        return (s["end"] - s["start"]) - kids

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({**s, "id": i, "self_s": self.self_time(i)}) + "\n")


# --- operations -------------------------------------------------------------


class OpRunner:
    """Runs one benchmark operation as build → (plan) → drain → check.

    Every call counts as attempted; it fails if any step raises or the check
    returns false. With tracing on, each operation also gets its own job
    group, spans, and a separate planning step before it executes."""

    def __init__(self, spark, tracer: Tracer):
        self.spark = spark
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.ops: list[dict] = []

    def run(self, kind: str, build, drain=None, check=None):
        """``build()`` makes the operation's object (usually the DataFrame to
        drain, including its small aggregate); ``drain(obj)`` forces it
        (default ``obj.collect()``); ``check(result)`` verifies it. Returns
        the drained result, or None on failure."""
        traced = self.tracer.enabled
        self.attempted += 1
        group = f"pb-{len(self.ops):03d}-{kind}"
        rec = {"kind": kind, "group": group, "build_s": 0.0, "plan_s": 0.0, "exec_s": 0.0, "ok": False}
        sc = self.spark.sparkContext
        if traced:
            sc.setJobGroup(group, kind)
        t0 = time.perf_counter()
        result = None
        try:
            with self.tracer.span(kind, op=group):
                with self.tracer.span("build"):
                    obj = build()
                t1 = time.perf_counter()
                if traced and hasattr(obj, "_jdf"):
                    with self.tracer.span("plan"):
                        obj._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                with self.tracer.span("execute"):
                    result = drain(obj) if drain is not None else obj.collect()
                t3 = time.perf_counter()
            rec.update(build_s=t1 - t0, plan_s=t2 - t1, exec_s=t3 - t2)
            rec["ok"] = bool(check(result)) if check is not None else True
            if not rec["ok"]:
                self.failures.append(f"{kind}: output check failed: {_short(result)}")
        except Exception:  # an operation that raises counts as failed; keep going
            self.failures.append(f"{kind}: {traceback.format_exc(limit=3)}")
            print(f"perfbench: {kind} raised\n{traceback.format_exc()}", file=sys.stderr)
        finally:
            if traced:
                sc.setJobGroup("perfbench-idle", "between operations")
        rec["wall_s"] = time.perf_counter() - t0
        if not rec["ok"]:
            self.failed += 1
        self.ops.append(rec)
        return result if rec["ok"] else None

    def last(self, kind: str) -> dict:
        return next(r for r in reversed(self.ops) if r["kind"] == kind)


def _short(v) -> str:
    s = repr(v)
    return s if len(s) < 300 else s[:300] + "..."


# --- Spark accounting ---------------------------------------------------------


def group_counts(spark, group: str) -> dict:
    """Jobs, stages and tasks Spark ran under one job group."""
    tracker = spark.sparkContext.statusTracker()
    jobs = list(tracker.getJobIdsForGroup(group))
    stages = tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for sid in info.stageIds if info is not None else ():
            st = tracker.getStageInfo(sid)
            if st is not None:
                stages += 1
                tasks += st.numTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def event_log_metrics(log_dir: str) -> dict[str, dict]:
    """Per job group task metrics from an uncompressed, non-rolling event
    log: task time, GC time, shuffle read/write and spill, in seconds / MB."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)] if os.path.isdir(log_dir) else []
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(
        lambda: {"task_s": 0.0, "gc_s": 0.0, "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0}
    )
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    agg = out[stage_group.get(ev.get("Stage ID"), "")]
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    agg["task_s"] += m.get("Executor Run Time", 0) / 1e3
                    agg["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    agg["shuffle_read_mb"] += (rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)) / 1e6
                    agg["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / 1e6
                    agg["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 1e6
    return dict(out)


# --- processes ----------------------------------------------------------------


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_mb(root: int) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total / 1e6


class RssSampler:
    """Samples the RSS of this process and all its descendants (driver
    Python, the JVM, Python workers) every ``interval`` seconds; ``peak``
    covers the samples taken between ``reset()`` and ``stop()``."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            rss = tree_rss_mb(os.getpid())
            with self._lock:
                self.peak = max(self.peak, rss)
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def reset(self) -> None:
        with self._lock:
            self.peak = tree_rss_mb(os.getpid())

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
