"""Per-layer attribution from the Spark event log and /proc.

Two measuring tools the benchmark uses, neither of which touches the
program under test:

* ``JobGroups`` tags every Spark job started inside a ``with`` block with
  a job group and remembers the block's wall time. After the session
  stops, ``attribute`` reads the uncompressed event log and sums, per
  group, the jobs, stages, tasks, executor run time, GC time and shuffle
  bytes written, and the part of the wall time during which no job of
  the group was running (driver time).
* ``RssSampler`` samples the resident memory of this process and all of
  its descendants (the Spark JVM and its Python workers) from ``/proc``
  on a background thread and keeps the peak.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class GroupStats:
    wall_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    driver_s: float = 0.0
    # job [start, end] intervals in epoch-ms, used for driver time
    intervals: list = field(default_factory=list)


class JobGroups:
    """Names Spark jobs by the benchmark call that started them."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.walls: dict = {}  # group -> (start_ms, end_ms)
        self._n = 0

    @contextlib.contextmanager
    def group(self, name: str):
        """Run the block under a fresh job group called *name*; a name
        used twice gets a numeric suffix so each call stays separate."""
        if not self.enabled:
            yield name
            return
        self._n += 1
        gid = f"{name}#{self._n}"
        self.sc.setJobGroup(gid, name)
        t0 = time.time()
        try:
            yield gid
        finally:
            self.walls[gid] = (t0 * 1000.0, time.time() * 1000.0)
            self.sc.setJobGroup("perfbench-untraced", "outside any timed call")


def read_event_log(log_dir: str) -> list:
    """Events of the one application that logged into *log_dir*."""
    files = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
        if not f.startswith(".")
    )
    if not files:
        raise RuntimeError(f"no event log under {log_dir}")
    events = []
    for path in files:
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _union_ms(intervals: list, lo: float, hi: float) -> float:
    """Length of the union of *intervals* clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def attribute(events: list, walls: dict) -> dict:
    """group id -> GroupStats from the event log's job/stage/task events."""
    stage_group: dict = {}
    job_group: dict = {}
    job_start: dict = {}
    out = {g: GroupStats(wall_s=(b - a) / 1000.0) for g, (a, b) in walls.items()}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if g not in out:
                continue
            job_group[ev["Job ID"]] = g
            job_start[ev["Job ID"]] = ev["Submission Time"]
            out[g].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = g
        elif kind == "SparkListenerJobEnd":
            g = job_group.get(ev["Job ID"])
            if g is not None:
                out[g].intervals.append((job_start[ev["Job ID"]], ev["Completion Time"]))
        elif kind == "SparkListenerStageCompleted":
            g = stage_group.get(ev["Stage Info"]["Stage ID"])
            if g is not None:
                out[g].stages += 1
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if g is None or not m:
                continue
            s = out[g]
            s.tasks += 1
            s.executor_s += m.get("Executor Run Time", 0) / 1000.0
            s.gc_s += m.get("JVM GC Time", 0) / 1000.0
            s.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
    for g, (a, b) in walls.items():
        s = out[g]
        s.driver_s = max(0.0, (b - a) - _union_ms(s.intervals, a, b)) / 1000.0
    return out


def _ppids() -> dict:
    """pid -> parent pid for every process visible in /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; the parent pid is the second
        # field after its closing parenthesis
        out[int(name)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of *root* and every descendant process."""
    kids: dict = {}
    for pid, ppid in _ppids().items():
        kids.setdefault(ppid, []).append(pid)
    total, todo, page = 0, [root], os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
        todo.extend(kids.get(pid, []))
    return total


class RssSampler:
    """Peak resident memory of this process tree, sampled every
    *interval_s* seconds on a daemon thread until ``stop``."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak
