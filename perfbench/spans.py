"""Measurement plumbing: process-tree CPU from ``/proc``, benchmark-side
spans tagged with Spark job groups, and the fold of Spark's event log
into per-span stage metrics."""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root_pid: int | None = None) -> float:
    """CPU seconds (user + system, including reaped children) of every
    descendant of ``root_pid``: the Spark JVM and its Python workers,
    without the benchmark's own client process."""
    root_pid = root_pid or os.getpid()
    stats: dict[int, tuple[int, float]] = {}
    for path in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(path) as f:
                raw = f.read()
        except OSError:
            continue  # the process ended while we looked
        # the command name may hold spaces; fields resume after its ')'
        fields = raw[raw.rindex(")") + 2 :].split()
        ppid = int(fields[1])
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        stats[int(path.split("/")[2])] = (ppid, ticks / _TICK)
    children = defaultdict(list)
    for pid, (ppid, _) in stats.items():
        children[ppid].append(pid)
    total, todo = 0.0, list(children[root_pid])
    while todo:
        pid = todo.pop()
        total += stats[pid][1]
        todo.extend(children[pid])
    return total


@dataclass
class Span:
    sid: int
    name: str  # "<layer>.<function>" or "<layer>.<function>:exec"
    op_id: int | None
    parent: int | None
    phase: str  # "setup", "loop" (the traced loop) or "check"
    start: float
    end: float
    extra: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"pb-{self.sid}"

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Nested spans; each tags the Spark jobs run inside it with its own
    job group, so the event log can be folded back onto it. A disabled
    tracer costs one attribute check per span."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self.phase = "loop"
        self._stack: list[Span] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, op_id: int | None = None, **extra):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = parent.op_id
        self._next += 1
        s = Span(
            self._next,
            name,
            op_id,
            parent.sid if parent else None,
            self.phase,
            0.0,
            0.0,
            dict(extra),
        )
        self.sc.setJobGroup(s.group, name)
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(s)


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    min_stage_tasks: int | None = None
    executor_cpu_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    gc_s: float = 0.0
    failed_tasks: int = 0

    def add(self, other: "GroupStats") -> None:
        for k in (
            "jobs",
            "stages",
            "tasks",
            "executor_cpu_s",
            "shuffle_read_mb",
            "shuffle_write_mb",
            "spill_mb",
            "gc_s",
            "failed_tasks",
        ):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        if other.min_stage_tasks is not None:
            self.min_stage_tasks = min(
                other.min_stage_tasks,
                self.min_stage_tasks or other.min_stage_tasks,
            )


_MB = 1024.0 * 1024.0


def fold_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Per-job-group Spark metrics from the event log(s) in ``log_dir``.

    Jobs and stages are attributed through the job-group property Spark
    copies onto each job and stage; tasks through their stage."""
    out: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if gid:
                        out[gid].jobs += 1
                elif kind == "SparkListenerStageSubmitted":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    info = ev["Stage Info"]
                    if gid:
                        stage_group[info["Stage ID"]] = gid
                        g = out[gid]
                        g.stages += 1
                        n = info["Number of Tasks"]
                        g.min_stage_tasks = (
                            n if g.min_stage_tasks is None else min(n, g.min_stage_tasks)
                        )
                elif kind == "SparkListenerTaskEnd":
                    gid = stage_group.get(ev["Stage ID"])
                    if gid is None:
                        continue
                    g = out[gid]
                    g.tasks += 1
                    if ev["Task Info"].get("Failed"):
                        g.failed_tasks += 1
                    m = ev.get("Task Metrics") or {}
                    g.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    g.gc_s += m.get("JVM GC Time", 0) / 1e3
                    g.spill_mb += m.get("Disk Bytes Spilled", 0) / _MB
                    rd = m.get("Shuffle Read Metrics") or {}
                    g.shuffle_read_mb += (
                        rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    ) / _MB
                    wr = m.get("Shuffle Write Metrics") or {}
                    g.shuffle_write_mb += wr.get("Shuffle Bytes Written", 0) / _MB
    return out
