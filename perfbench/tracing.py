"""Tracing for the benchmark's traced run.

- :class:`Spans` wraps public functions of the program's layers, from
  the benchmark's side, and sums time and calls per layer function.
- :class:`SparkCounter` runs each operation under a job group the
  benchmark sets, reads the jobs, stages and tasks of that group from
  the status tracker, and marks the reading exact when the scheduler's
  own id counters agree.
- :func:`eventlog_by_group` totals executor time, GC, shuffle and spill
  per job group from the Spark event log after the session stops.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time

from stats import count_delta, group_counts, is_exact


class Spans:
    """Time and call totals of wrapped functions while ``on`` is set."""

    def __init__(self) -> None:
        self.on = False
        self.totals: dict[str, list[float]] = {}

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a wrapper that times each call
        under ``name``."""
        fn = getattr(module, attr)
        tot = self.totals.setdefault(name, [0.0, 0])

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            if not self.on:
                return fn(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                tot[0] += time.perf_counter() - t0
                tot[1] += 1

        setattr(module, attr, timed)

    def take(self) -> dict[str, tuple[float, int]]:
        """Totals since the last take, then reset."""
        out = {k: (v[0], int(v[1])) for k, v in self.totals.items()}
        for v in self.totals.values():
            v[0], v[1] = 0.0, 0
        return out


class SparkCounter:
    """Jobs, stages and tasks of one operation, read under its own job
    group after the listener bus has drained."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._seq = 0

    def _counters(self) -> dict[str, int]:
        ds = self._jsc.dagScheduler()
        return {
            "jobs": int(ds.nextJobId()),
            "tasks": int(self._jsc.taskScheduler().nextTaskId()),
        }

    @contextlib.contextmanager
    def group(self, label: str, out: dict):
        """Run the body under a fresh job group; fill ``out`` with the
        group name, its counts and the exact flag once the body ends."""
        self._seq += 1
        gid = f"perfbench-{self._seq}-{label}"
        self.sc.setJobGroup(gid, label)
        before = self._counters()
        try:
            yield
        finally:
            self._jsc.listenerBus().waitUntilEmpty()
            delta = count_delta(before, self._counters())
            tracker = self.sc.statusTracker()
            jobs, stages = {}, {}
            for j in tracker.getJobIdsForGroup(gid):
                info = tracker.getJobInfo(j)
                jobs[j] = list(info.stageIds) if info else []
                for s in jobs[j]:
                    si = tracker.getStageInfo(s)
                    stages[s] = (si.numTasks, si.numCompletedTasks) if si else (0, 0)
            counts = group_counts(jobs, stages)
            out.update(counts, group=gid, exact=is_exact(counts, delta))
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)


def eventlog_by_group(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: executor run seconds, JVM GC seconds, shuffle bytes
    written and bytes spilled (memory + disk), summed over finished
    tasks in the event log."""
    files = []
    for dirpath, _dirs, names in os.walk(log_dir):
        # rolling logs: events_<n>_<app id> files in an eventlog_v2 dir
        for f in names:
            if f.startswith(("events_", "local-", "app-")):
                n = int(f.split("_")[1]) if f.startswith("events_") else 0
                files.append((n, os.path.join(dirpath, f)))
    files = [path for _n, path in sorted(files)]
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    gid = props.get("spark.jobGroup.id")
                    if gid:
                        stage_group[ev["Stage Info"]["Stage ID"]] = gid
                elif kind == "SparkListenerTaskEnd":
                    gid = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if gid is None or not m:
                        continue
                    acc = out.setdefault(
                        gid,
                        {"executor_run_s": 0.0, "gc_s": 0.0,
                         "shuffle_write_bytes": 0.0, "spill_bytes": 0.0},
                    )
                    acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    acc["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
                    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return out


def abba(i: int) -> bool:
    """Whether unit ``i`` of a traced run is traced: T U U T T U U T …,
    so traced and untraced units sit equally early on any warm-up slope
    and their ratio is the tracing overhead."""
    return i % 4 in (0, 3)


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MiB."""
    with open(f"/proc/{pid}/status", encoding="utf-8") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the machine since boot, in jiffies, from
    /proc/stat. Steal is time a hypervisor gave this VM's CPUs to
    others; the probe below does not show it."""
    with open("/proc/stat", encoding="utf-8") as f:
        # user nice system idle iowait irq softirq steal (guest is in user)
        vals = [int(v) for v in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def cpu_probe_s() -> float:
    """Seconds for a fixed pure-Python loop: shows host drift between
    runs; no metric is normalized by it."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc * 31 + i) % 1_000_003
    return time.perf_counter() - t0
