"""Measurement helpers: process sampling through ``/proc``, spans recorded
around library calls, per-op Spark job groups and the Spark event log.

All spans come from the benchmark's own code; the library is not changed.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from collections import defaultdict
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def process_start_age_s() -> float:
    """Seconds since this process started, from ``/proc`` (10 ms resolution)."""
    start_ticks = int(Path("/proc/self/stat").read_text().rsplit(")", 1)[1].split()[19])
    uptime = float(Path("/proc/uptime").read_text().split()[0])
    return uptime - start_ticks / _TICK


def _stat_fields(pid: int) -> list[str] | None:
    try:
        return Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError):
        return None


def descendants(pid: int) -> list[int]:
    """All live descendants of ``pid``, through ``/proc/<pid>/task/*/children``."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except FileNotFoundError:
            continue
        for t in tasks:
            try:
                kids = Path(f"/proc/{p}/task/{t}/children").read_text().split()
            except FileNotFoundError:
                continue
            for k in map(int, kids):
                out.append(k)
                todo.append(k)
    return out


def cpu_s(pids: list[int]) -> float:
    """User + system CPU of ``pids``, reaped children included."""
    total = 0
    for p in pids:
        f = _stat_fields(p)
        if f:
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for p in pids:
        f = _stat_fields(p)
        if f:
            total += int(f[21]) * _PAGE
    return total


class ProcSampler:
    """Samples the summed RSS of the driver Python, the JVM and the JVM's
    children (the Python workers) on a background thread; keeps the peak."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.jvm_pid: int | None = None
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="proc-sampler", daemon=True)

    def pids(self) -> list[int]:
        if self.jvm_pid is None:
            return [os.getpid()]
        return [os.getpid(), self.jvm_pid, *descendants(self.jvm_pid)]

    def worker_pids(self) -> list[int]:
        return descendants(self.jvm_pid) if self.jvm_pid is not None else []

    def sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, rss_bytes(self.pids()))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.ident is not None:
            self._thread.join(timeout=5)
            self.sample()


class Tracer:
    """Spans around library calls plus per-op Spark counters.

    When ``enabled`` is false every method is a no-op apart from returning a
    null context, so untraced ops pay nothing but a flag test."""

    def __init__(self, sampler: ProcSampler):
        self.sampler = sampler
        self.enabled = False
        self.spans: list[dict] = []
        self.op_counters: dict[str, dict] = {}
        self._stack: list[int] = []
        self._op_id: str | None = None
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def _span(self, name: str):
        idx = len(self.spans)
        rec = {
            "name": name,
            "op": self._op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self._t0,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def span(self, name: str):
        return self._span(name) if self.enabled else contextlib.nullcontext()

    @contextlib.contextmanager
    def op(self, spark, op: dict):
        """One op: its own Spark job group, a root span and the Python
        workers' CPU over the op."""
        if not self.enabled:
            yield
            return
        sc = spark.sparkContext
        self._op_id = op["id"]
        sc.setJobGroup(op["id"], op["kind"])
        cpu0 = cpu_s(self.sampler.worker_pids())
        try:
            with self._span(op["kind"]):
                yield
        finally:
            cpu1 = cpu_s(self.sampler.worker_pids())
            st = sc.statusTracker()
            jobs = st.getJobIdsForGroup(op["id"])
            stages = set()
            for j in jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            tasks = 0
            for s in stages:
                info = st.getStageInfo(s)
                if info is not None:
                    tasks += info.numCompletedTasks
            self.op_counters[op["id"]] = {
                "jobs": len(jobs),
                "stages": len(stages),
                "tasks": tasks,
                "pyworker_cpu_s": max(0.0, cpu1 - cpu0),
            }
            sc.setLocalProperty("spark.jobGroup.id", None)
            self._op_id = None

    def span_seconds(self, op_id: str) -> dict[str, float]:
        """Summed duration per span name within one op."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["op"] == op_id and "end" in s:
                out[s["name"]] += s["end"] - s["start"]
        return out


def parse_event_log(log_dir: Path) -> dict[str, dict[str, float]]:
    """Per job group: shuffle records and bytes written, executor CPU and
    task count, from Spark's JSON event log (read after the session stops)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {"shuffle_records": 0, "shuffle_bytes": 0, "executor_cpu_s": 0.0, "tasks": 0}
    )
    for f in sorted(p for p in log_dir.rglob("*") if p.is_file()):
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for s in ev.get("Stage IDs", []):
                            stage_group.setdefault(s, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    g = out[group]
                    w = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_records"] += w.get("Shuffle Records Written", 0)
                    g["shuffle_bytes"] += w.get("Shuffle Bytes Written", 0)
                    g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["tasks"] += 1
    return dict(out)


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())
