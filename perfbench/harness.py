"""Measurement helpers shared by the benchmark workloads.

Everything here is engine-independent: percentiles, spans and their
self times, failure accounting, Spark event-log parsing, and peak RSS
and CPU time read from ``/proc``. The self-tests in ``test_harness.py``
cover them.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Percentiles a tail may be reported at, highest last.
TAIL_LADDER = (50.0, 60.0, 70.0, 75.0, 80.0, 90.0, 95.0, 99.0, 99.9)
TAIL_MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(values: list[float]) -> tuple[float, float, int]:
    """The highest ladder percentile with at least ``TAIL_MIN_BEYOND``
    samples strictly above it, as ``(p, value, samples_beyond)``. With
    too few samples for any tail the median is returned."""
    best = None
    for p in TAIL_LADDER:
        v = percentile(values, p)
        beyond = sum(1 for x in values if x > v)
        if best is None or beyond >= TAIL_MIN_BEYOND:
            best = (p, v, beyond)
    return best


# -- spans --------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int


@dataclass
class Tracer:
    """Spans kept in memory while ``enabled``; a disabled tracer records
    nothing."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    op: int = -1
    overhead_s: float = 0.0  # time spent recording, as measured in-process

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        c0 = time.perf_counter()
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), 0.0, parent, self.op))
        self._stack.append(idx)
        self.overhead_s += time.perf_counter() - c0
        try:
            yield
        finally:
            c1 = time.perf_counter()
            self._stack.pop()
            self.spans[idx].end = time.time()
            self.overhead_s += time.perf_counter() - c1

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(
                    json.dumps(
                        {"id": i, "name": s.name, "start": s.start, "end": s.end,
                         "parent": s.parent, "op": s.op}
                    )
                    + "\n"
                )


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part of its interval that its
    direct children cover (children clipped to the parent)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            kids.setdefault(s.parent, []).append(
                (max(s.start, p.start), min(s.end, p.end))
            )
    return [
        (s.end - s.start) - _covered([iv for iv in kids.get(i, []) if iv[1] > iv[0]])
        for i, s in enumerate(spans)
    ]


# -- failure accounting -------------------------------------------------


@dataclass
class Tally:
    """Operations attempted, raised and answered wrong. A wrong answer
    found by the correctness gate counts once per distinct operation."""

    attempted: int = 0
    raised: int = 0
    wrong: int = 0
    errors: list[str] = field(default_factory=list)

    def raise_(self, what: str, err: BaseException) -> None:
        self.raised += 1
        self.errors.append(f"{what}: {type(err).__name__}: {str(err)[:300]}")

    def wrong_(self, what: str, why: str) -> None:
        self.wrong += 1
        self.errors.append(f"{what}: wrong answer: {why[:300]}")

    @property
    def failed(self) -> int:
        return self.raised + self.wrong

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


# -- Spark event log ----------------------------------------------------


@dataclass
class JobRecord:
    job_id: int
    group: str | None
    submit_ms: int
    stage_ids: list[int]
    stages: int = 0
    tasks: int = 0
    run_ms: int = 0
    gc_ms: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0


def parse_event_log(path: str) -> list[JobRecord]:
    """Jobs of an uncompressed Spark event log with their tasks' metrics
    summed (executor run time, GC, shuffle bytes, spill). A task counts
    toward every job whose stage list holds its stage."""
    jobs: dict[int, JobRecord] = {}
    stage_jobs: dict[int, list[int]] = {}
    stage_seen: set[tuple[int, int]] = set()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                j = JobRecord(
                    ev["Job ID"], props.get("spark.jobGroup.id"),
                    ev.get("Submission Time", 0), list(ev.get("Stage IDs", [])),
                )
                jobs[j.job_id] = j
                for sid in j.stage_ids:
                    stage_jobs.setdefault(sid, []).append(j.job_id)
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                for jid in stage_jobs.get(sid, ()):
                    j = jobs[jid]
                    if (jid, sid) not in stage_seen:
                        stage_seen.add((jid, sid))
                        j.stages += 1
                    j.tasks += 1
                    j.run_ms += m.get("Executor Run Time", 0)
                    j.gc_ms += m.get("JVM GC Time", 0)
                    j.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    j.shuffle_write += sw.get("Shuffle Bytes Written", 0)
                    j.spill += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return sorted(jobs.values(), key=lambda j: j.job_id)


def jobs_by_op(
    jobs: list[JobRecord], windows: dict[int, tuple[float, float]]
) -> dict[int, list[JobRecord]]:
    """Assign each job to an op: by its job group when it names one of
    ``windows``' ops (``op<N>``), else by the op whose wall-clock window
    (seconds) holds its submission time. Jobs outside every window (set
    up, gate) are dropped."""
    out: dict[int, list[JobRecord]] = {op: [] for op in windows}
    spans = sorted((s, e, op) for op, (s, e) in windows.items())
    for j in jobs:
        if j.group and j.group.startswith("op") and j.group[2:].isdigit():
            op = int(j.group[2:])
            if op in out:
                out[op].append(j)
                continue
        t = j.submit_ms / 1000.0
        for s, e, op in spans:
            if s - 0.002 <= t <= e + 0.002:
                out[op].append(j)
                break
    return out


# -- process memory and CPU ---------------------------------------------


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids += [int(x) for x in f.read().split()]
    except OSError:
        pass
    return kids


def _tree(pid: int | None) -> list[int]:
    """A process (default: this one) and all its live descendants."""
    todo, out = [pid or os.getpid()], []
    while todo:
        p = todo.pop()
        out.append(p)
        todo += _children(p)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pid: int | None = None) -> float:
    """Sum of the peak resident set sizes (VmHWM) of a process and all
    its descendants, in MiB."""
    return sum(_hwm_kb(p) for p in _tree(pid)) / 1024.0


def cpu_snapshot(pid: int | None = None) -> dict[int, int]:
    """CPU clock ticks per process of a tree: utime + stime + cutime +
    cstime (fields 14-17 of ``/proc/<pid>/stat``), so the time of
    exited threads and reaped children stays counted."""
    snap: dict[int, int] = {}
    for p in _tree(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is field 3 (the state), so field 14 is fields[11]
        snap[p] = sum(int(x) for x in fields[11:15])
    return snap


def cpu_between(before: dict[int, int], after: dict[int, int]) -> float:
    """CPU seconds a process tree used between two snapshots. Time a
    hypervisor gave to other guests (steal) is not in it, so on a
    shared host it moves far less than wall time."""
    return (sum(after.values()) - sum(before.values())) / os.sysconf("SC_CLK_TCK")
