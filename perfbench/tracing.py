"""Spans, Spark event-log task metrics, host steal, and process-tree CPU and memory.

Spans are recorded by the benchmark around its calls into each layer of
the package; nothing inside the package is instrumented. In traced mode
every span runs under its own Spark job group and its output is forced
at the span's end, so the event log's TaskEnd records can be attributed
to exactly one span. Untraced, ``span`` only reads the clock.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

TASK_FIELDS = [
    "tasks", "executor_run_s", "scheduler_delay_s", "shuffle_fetch_wait_s",
    "shuffle_write_bytes", "spill_bytes", "failed_tasks",
]


class Span:
    __slots__ = ("uid", "name", "layer", "parent", "start", "end", "children_s")

    def __init__(self, uid, name, layer, parent):
        self.uid, self.name, self.layer, self.parent = uid, name, layer, parent
        self.start = self.end = 0.0
        self.children_s = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall_s - self.children_s


class Tracer:
    """Span recorder. ``traced=False`` keeps only wall times."""

    def __init__(self, spark, traced: bool):
        self.sc = spark.sparkContext
        self.traced = traced
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        parent = self._stack[-1] if self._stack else None
        s = Span(f"span-{next(self._ids)}", name, layer or name.split(".")[0],
                 parent.uid if parent else None)
        self._stack.append(s)
        if self.traced:
            self.sc.setJobGroup(s.uid, name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.children_s += s.wall_s
            if self.traced:
                if parent is not None:
                    self.sc.setJobGroup(parent.uid, parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(s)

    def force(self, df):
        """Materialize ``df`` at a span boundary in traced mode only."""
        return df.localCheckpoint(eager=True) if self.traced else df

    def self_times(self, name: str) -> list[float]:
        return [s.self_s for s in self.spans if s.name == name]


def task_metrics(event_dir: str, tracer: Tracer) -> dict[str, dict[str, float]]:
    """Sum TaskEnd metrics of the event log per span layer."""
    layer_of = {s.uid: s.layer for s in tracer.spans}
    stage_layer: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(TASK_FIELDS, 0.0))
    files = [f for f in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(f)]
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    layer = layer_of.get(group, "unattributed")
                    for st in ev.get("Stage IDs", []):
                        stage_layer.setdefault(st, layer)
                elif kind == "SparkListenerTaskEnd":
                    acc = out[stage_layer.get(ev.get("Stage ID"), "unattributed")]
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    acc["tasks"] += 1
                    if info.get("Failed") or (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        acc["failed_tasks"] += 1
                    run = m.get("Executor Run Time", 0)
                    dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    delay = dur - run - m.get("Executor Deserialize Time", 0) \
                        - m.get("Result Serialization Time", 0) - info.get("Getting Result Time", 0)
                    acc["executor_run_s"] += run / 1000.0
                    acc["scheduler_delay_s"] += max(delay, 0) / 1000.0
                    acc["shuffle_fetch_wait_s"] += \
                        (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0) / 1000.0
                    acc["shuffle_write_bytes"] += \
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return dict(out)


def cpu_ticks() -> tuple[int, int]:
    """(steal, busy) clock ticks of the whole machine, from ``/proc/stat``.

    Steal is time a virtual CPU wanted to run while the host ran something
    else; the program cannot cause it, so its share of ``steal + busy``
    over a run tells a slow host from a slow program."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal ...
    return v[7], v[0] + v[1] + v[2] + v[5] + v[6]


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        kids[int(fields[1])].append(int(stat.split("/")[2]))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system, with reaped children) of every process
    below ``pid``: the Spark JVM and its Python workers. Time the
    hypervisor steals from a virtual CPU is not charged to any process."""
    ticks = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited; a reaped worker's time is in its parent's
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int) -> float:
    """Sum of the peak resident set (VmHWM) of every process below ``pid``:
    the Spark JVM and its Python workers, not the benchmark's own process."""
    total_kb = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
