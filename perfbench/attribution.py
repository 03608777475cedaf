"""Per-layer attribution from outside the engine.

Each public layer call is timed by the benchmark, and the Spark jobs it
submitted are found by job-id range: the next job id is read before the
call and again after it. The Spark driver program runs one call at a
time, so every job in the range belongs to that call. Job groups are not
used to find a call's jobs, because the engine's loops reset the group to
none after each iteration. Inside a range, a job's group is still read to
assign it to a loop iteration.

Stage and task figures come from Spark's status store, which is populated
with the UI server disabled.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterator

# tasks whose run time is below this are treated as this long when the
# max/median skew is formed, so that a stage of 1 ms tasks reads as even
_MIN_TASK_MS = 1.0


@dataclass
class StageFigures:
    """Totals over the executed stages of a set of jobs."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_busy_s: float = 0.0
    stage_covered_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_records: int = 0
    spill_bytes: int = 0
    # max/median task run time of the stage with the most task time
    task_skew: float = 1.0
    # loop iterations found by job group: group -> (first submit, last end) s
    group_windows: dict[str, tuple[float, float]] = field(default_factory=dict)
    group_stages: dict[str, int] = field(default_factory=dict)
    group_covered_s: dict[str, float] = field(default_factory=dict)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class StatusReader:
    """Reads job, stage and task figures for a job-id range."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()  # noqa: SLF001 - status data has no Python API
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        gw = self._sc._gateway  # noqa: SLF001
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0

    def next_job_id(self) -> int:
        return int(self._dag.nextJobId())

    def figures(self, first_job: int, end_job: int) -> StageFigures:
        """Figures of the jobs with ids in [first_job, end_job)."""
        self._bus.waitUntilEmpty()  # the status store is fed asynchronously
        out = StageFigures(jobs=end_job - first_job)
        intervals: list[tuple[float, float]] = []
        group_intervals: dict[str, list[tuple[float, float]]] = {}
        heaviest = -1.0
        for jid in range(first_job, end_job):
            job = self._store.job(jid)
            group = job.jobGroup().get() if job.jobGroup().isDefined() else None
            if group is not None and job.submissionTime().isDefined():
                t0 = job.submissionTime().get().getTime() / 1000.0
                t1 = (job.completionTime().get().getTime() / 1000.0
                      if job.completionTime().isDefined() else t0)
                w = out.group_windows.get(group)
                out.group_windows[group] = (t0, t1) if w is None else (
                    min(w[0], t0), max(w[1], t1))
            sids = job.stageIds()
            for i in range(sids.size()):
                stage = self._store.lastStageAttempt(sids.apply(i))
                if stage.status().toString() == "SKIPPED":
                    continue
                out.stages += 1
                out.tasks += stage.numCompleteTasks()
                out.failed_tasks += stage.numFailedTasks()
                busy = stage.executorRunTime() / 1000.0
                out.task_busy_s += busy
                out.shuffle_read_bytes += stage.shuffleReadBytes()
                out.shuffle_write_bytes += stage.shuffleWriteBytes()
                out.shuffle_read_records += stage.shuffleReadRecords()
                out.spill_bytes += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
                if stage.submissionTime().isDefined() and stage.completionTime().isDefined():
                    span = (stage.submissionTime().get().getTime() / 1000.0,
                            stage.completionTime().get().getTime() / 1000.0)
                    intervals.append(span)
                    if group is not None:
                        group_intervals.setdefault(group, []).append(span)
                        out.group_stages[group] = out.group_stages.get(group, 0) + 1
                if busy > heaviest and stage.numCompleteTasks() > 1:
                    skew = self._skew(stage)
                    if skew is not None:
                        heaviest, out.task_skew = busy, skew
        out.stage_covered_s = _covered(intervals)
        out.group_covered_s = {g: _covered(v) for g, v in group_intervals.items()}
        return out

    def _skew(self, stage) -> float | None:
        summary = self._store.taskSummary(
            stage.stageId(), stage.attemptId(), self._quantiles
        )
        if not summary.isDefined():
            return None
        run = summary.get().executorRunTime()
        median, top = run.apply(0), run.apply(1)
        return max(top, _MIN_TASK_MS) / max(median, _MIN_TASK_MS)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    pass_no: int
    figures: StageFigures
    extra: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans around public layer calls, kept in memory until written."""

    def __init__(self, status: StatusReader):
        self.status = status
        self.spans: list[Span] = []
        self.pass_no = 0
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str) -> Iterator[dict]:
        """Time the block as layer ``name``; the yielded dict takes extra
        per-call figures such as row counts."""
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        extra: dict = {}
        first = self.status.next_job_id()
        start = time.monotonic()
        try:
            yield extra
        finally:
            end = time.monotonic()
            self._stack.pop()
            figures = self.status.figures(first, self.status.next_job_id())
            self.spans.append(
                Span(name, start, end, parent, self.pass_no, figures, extra))

    def self_seconds(self, span: Span) -> float:
        """Span time less the part of it covered by its child spans."""
        children = [(c.start, c.end) for c in self.spans
                    if c.parent == span.name and c.pass_no == span.pass_no
                    and span.start <= c.start <= span.end]
        return span.seconds - _covered(children)


# ------------------------------------------------------------ host state

def steal_seconds() -> float:
    """Host steal time summed over all cpus, from /proc/stat (0 where the
    file is absent)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
    except OSError:
        return 0.0
    ticks = os.sysconf("SC_CLK_TCK")
    return int(fields[8]) / ticks if len(fields) > 8 else 0.0


def load_1min() -> float:
    return os.getloadavg()[0]


def _process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and the pids of all its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def descendants(root_pid: int) -> list[int]:
    return _process_tree(root_pid)[1:]


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of ``root_pid`` and all its descendants, MB."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue  # ended meanwhile
    return total / 2**20


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
