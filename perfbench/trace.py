"""Spans and counters taken from outside the program.

Nothing here imports the search engine.  A span is a named wall-clock
interval around one call into a layer's public function; spans nest, and
the spans of one request share a request id.  Counters come from three
outside sources:

- Spark's REST status API (``/api/v1/applications/<app>/jobs|stages``),
  read once when the run ends and attributed to spans by time window;
- ``/proc/<pid>/stat`` CPU accounting for the driver, the JVM and the
  Python workers, snapshotted at the boundaries of coarse spans;
- public counters of the engines, which the workloads read themselves.

Spans are kept in memory and turned into metrics when the run ends.
"""

from __future__ import annotations

import json
import math
import os
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime

_HZ = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------------ stats


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """The highest of the standard percentiles (50, 90, 95, 99, 99.9) that
    has at least ``min_beyond`` samples strictly beyond it among ``n``.

    A percentile p has ``n - ceil(p/100 * n)`` samples above its rank;
    with fewer than ``min_beyond`` of them the tail estimate rests on a
    handful of samples and is not reported.  Returns None when not even
    the median qualifies."""
    best = None
    for p in (50.0, 90.0, 95.0, 99.0, 99.9):
        if n - _rank(p, n) >= min_beyond:
            best = p
    return best


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples
    (the epsilon keeps 99.9 % of 10,000 at rank 9,990, not 9,991)."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the sample at rank ceil(p/100 * n))."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[_rank(p, len(values)) - 1]


def median(values: list[float]) -> float:
    s = sorted(values)
    if not s:
        raise ValueError("median of no samples")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else 0.5 * (s[mid - 1] + s[mid])


def trimmed_mean(values: list[float], cut: float = 0.05) -> float:
    """Mean of the samples left after dropping the lowest and the highest
    ``cut`` share of them.  Unlike the median it moves smoothly when the
    mix of a two-mode distribution shifts, and unlike the mean a few
    stalled samples do not move it."""
    s = sorted(values)
    if not s:
        raise ValueError("trimmed mean of no samples")
    k = int(cut * len(s))
    kept = s[k : len(s) - k]
    return sum(kept) / len(kept)


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# ------------------------------------------------------------------ spans


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    req: str | None = None
    cpu: dict[str, float] = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span: its duration minus the part of its interval
    that its child spans cover (children may overlap each other, so the
    union of their intervals is subtracted, not their sum)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: s.wall - union_length(kids.get(s.sid, []), s.start, s.end)
        for s in spans
    }


class Tracer:
    """Records spans when enabled; a disabled tracer costs one branch.

    ``cpu=True`` on a span snapshots the process tree's CPU at both ends
    (a /proc walk, ~1 ms), so it is meant for spans of 100 ms or more.
    The time the tracer spends on its own bookkeeping is summed in
    ``overhead_s``."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, req: str | None = None, cpu: bool = False):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, 0.0, parent=parent, req=req)
        self.spans.append(sp)
        self._stack.append(sp.sid)
        before = proc_cpu() if cpu else None
        self.overhead_s += time.perf_counter() - t0
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            t1 = time.perf_counter()
            if before is not None:
                after = proc_cpu()
                sp.cpu = {k: after.get(k, 0.0) - before.get(k, 0.0) for k in after}
            self._stack.pop()
            self.overhead_s += time.perf_counter() - t1

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


# ------------------------------------------------------------------ /proc


def _read_stat(pid: int) -> tuple[str, int, float, float] | None:
    """(comm, ppid, own cpu s, reaped-children cpu s) from /proc/<pid>/stat."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw.split("(", 1)[1].rsplit(")", 1)[0]
    parts = raw.rsplit(")", 1)[1].split()
    own = (int(parts[11]) + int(parts[12])) / _HZ
    reaped = (int(parts[13]) + int(parts[14])) / _HZ
    return comm, int(parts[1]), own, reaped


def process_tree(root: int | None = None) -> dict[int, tuple[str, float, float]]:
    """pid -> (comm, own cpu s, reaped-children cpu s) for ``root`` (this
    process by default) and all its descendants."""
    root = os.getpid() if root is None else root
    info: dict[int, tuple[str, int, float, float]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _read_stat(int(d))
            if st is not None:
                info[int(d)] = st
    kids: dict[int, list[int]] = {}
    for pid, (_, ppid, _, _) in info.items():
        kids.setdefault(ppid, []).append(pid)
    out: dict[int, tuple[str, float, float]] = {}
    stack = [root]
    while stack:
        pid = stack.pop()
        if pid in info:
            comm, _, own, reaped = info[pid]
            out[pid] = (comm, own, reaped)
        stack.extend(kids.get(pid, []))
    return out


def _kind(pid: int, comm: str, me: int) -> str:
    if pid == me:
        return "driver"
    return "jvm" if comm == "java" else "python_workers"


def proc_cpu() -> dict[str, float]:
    """Cumulative CPU seconds of this process tree, split three ways:
    ``driver`` (this Python process), ``jvm`` (the Spark JVM) and
    ``python_workers`` (everything under the JVM: the pyspark daemon and
    its forked workers, including workers it has already reaped)."""
    me = os.getpid()
    out = {"driver": 0.0, "jvm": 0.0, "python_workers": 0.0}
    for pid, (comm, own, reaped) in process_tree(me).items():
        kind = _kind(pid, comm, me)
        out[kind] += own + (reaped if kind == "python_workers" else 0.0)
    return out


def peak_rss_mb() -> dict[str, float]:
    """Peak resident set (VmHWM) in MB of this process tree, split like
    ``proc_cpu``; Python workers count if alive at the time of the call."""
    me = os.getpid()
    out = {"driver": 0.0, "jvm": 0.0, "python_workers": 0.0}
    for pid, (comm, _, _) in process_tree(me).items():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[_kind(pid, comm, me)] += int(line.split()[1]) / 1024.0
                        break
        except OSError:
            continue
    return out


def host_cpu() -> dict[str, float]:
    """Host-wide CPU seconds from the first line of /proc/stat: ``busy``,
    ``idle`` (with iowait) and ``steal`` (time the hypervisor ran other
    guests while this guest's vCPUs were runnable)."""
    with open("/proc/stat") as f:
        v = [int(x) / _HZ for x in f.readline().split()[1:]]
    return {"busy": v[0] + v[1] + v[2] + v[5] + v[6], "idle": v[3] + v[4], "steal": v[7]}


# ------------------------------------------------------------------ REST


def _rest_time(s: str | None) -> float | None:
    """Spark REST timestamps look like ``2026-10-16T22:37:23.123GMT``."""
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


@dataclass
class StageRec:
    stage_id: int
    attempt: int
    start: float
    end: float
    num_tasks: int
    executor_cpu_s: float
    executor_run_s: float
    gc_s: float
    shuffle_write_mb: float
    spill_mb: float
    input_mb: float


@dataclass
class JobRec:
    job_id: int
    start: float
    end: float


class SparkRest:
    """Reads the application's jobs and stages from the status API."""

    def __init__(self, base_url: str, app_id: str) -> None:
        self.base = f"{base_url}/api/v1/applications/{app_id}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def jobs(self) -> list[JobRec]:
        out = []
        for j in self._get("/jobs"):
            t0, t1 = _rest_time(j.get("submissionTime")), _rest_time(j.get("completionTime"))
            if t0 is not None:
                out.append(JobRec(j["jobId"], t0, t1 if t1 is not None else t0))
        return out

    def stages(self) -> list[StageRec]:
        out = []
        for s in self._get("/stages"):
            t0 = _rest_time(s.get("submissionTime"))
            t1 = _rest_time(s.get("completionTime"))
            if t0 is None:  # skipped stage: never ran
                continue
            out.append(
                StageRec(
                    s["stageId"], s.get("attemptId", 0), t0, t1 if t1 is not None else t0,
                    int(s.get("numTasks", 0)),
                    s.get("executorCpuTime", 0) / 1e9,
                    s.get("executorRunTime", 0) / 1e3,
                    s.get("jvmGcTime", 0) / 1e3,
                    s.get("shuffleWriteBytes", 0) / 1e6,
                    (s.get("diskBytesSpilled", 0) + s.get("memoryBytesSpilled", 0)) / 1e6,
                    s.get("inputBytes", 0) / 1e6,
                )
            )
        return out

    def task_skew(self, stage: StageRec) -> float:
        """max / median task run time of one stage (taskSummary)."""
        q = self._get(
            f"/stages/{stage.stage_id}/{stage.attempt}/taskSummary?quantiles=0.5,1.0"
        )
        med, mx = q["executorRunTime"]
        return mx / med if med > 0 else 1.0


STAGE_COUNTERS = ("executor_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb", "input_mb")


def stage_share(stage: StageRec, lo: float, hi: float) -> float:
    """Share of a stage's run that falls inside ``[lo, hi]``.  A stage
    that straddles two windows (the build's concurrent stage-2 jobs, or a
    stage still running when one span hands over to the next) is split
    between them in proportion to time, so the windows' counters add up
    to the stage's total instead of counting it twice."""
    dur = stage.end - stage.start
    if dur <= 0:
        return 1.0 if lo <= stage.start <= hi else 0.0
    return max(0.0, min(stage.end, hi) - max(stage.start, lo)) / dur


def window_counters(
    stages: list[StageRec], jobs: list[JobRec], lo: float, hi: float
) -> dict[str, float]:
    """Spark counters of the window ``[lo, hi]``: stage counters split by
    time share, jobs counted by submission time, and the share of the
    window during which no job ran (``driver_gap_share``)."""
    out = {k: 0.0 for k in STAGE_COUNTERS}
    for st in stages:
        share = stage_share(st, lo, hi)
        if share:
            for k in STAGE_COUNTERS:
                out[k] += share * getattr(st, k)
    out["jobs"] = float(sum(1 for j in jobs if lo <= j.start < hi))
    busy = union_length([(j.start, j.end) for j in jobs], lo, hi)
    out["driver_gap_share"] = 1.0 - busy / (hi - lo) if hi > lo else 0.0
    return out


def widest_stage(stages: list[StageRec], lo: float, hi: float) -> StageRec | None:
    """The stage with the most tasks among those mostly inside the window."""
    inside = [s for s in stages if stage_share(s, lo, hi) >= 0.5]
    return max(inside, key=lambda s: (s.num_tasks, s.executor_run_s), default=None)
