"""Spans, percentiles and the Spark event-log profile. Standard library only.

A span is one timed call into a layer: its name, start and end (epoch
seconds, the clock Spark stamps its events with), the span that was
open when it began, and the op it belongs to. Spans stay in memory and
are written out once, when the run ends.

The event-log half reads the JSON lines Spark writes with
``spark.eventLog.enabled=true`` and ``spark.eventLog.compress=false``
and attributes every job to the innermost span whose interval holds
the job's submission time. Timing, not job groups, is what links a job
to a span, so jobs submitted from worker threads are counted too.
"""

from __future__ import annotations

import json
import math
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path

#: A stage whose tasks ran for less than this in total is "small": its
#: cost is the fixed per-stage scheduling price, not data work.
SMALL_STAGE_S = 0.15
#: A stage with fewer tasks than cores is under-parallel when its
#: largest task covers at least this share of the stage's wall time.
UNDERPARALLEL_SHARE = 0.5


def percentile(values: list[float], q: float) -> tuple[float, int]:
    """Nearest-rank ``q``-th percentile (0 < q <= 100) and the number
    of samples it was taken from."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < q <= 100:
        raise ValueError(f"percentile rank out of range: {q}")
    ordered = sorted(values)
    rank = math.ceil(q / 100 * len(ordered))
    return ordered[rank - 1], len(ordered)


def median(values: list[float]) -> float:
    ordered = sorted(values)
    n = len(ordered)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return ordered[mid] if n % 2 else (ordered[mid - 1] + ordered[mid]) / 2


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans in memory."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[Span] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._open[-1] if self._open else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(len(self.spans), name, time.time(), math.nan,
                 parent.id if parent else None, op)
        self.spans.append(s)
        self._open.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()

    def write(self, path: Path) -> None:
        path.write_text(json.dumps([asdict(s) for s in self.spans]))


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover.
    Overlapping children count once; parts outside the span not at all."""
    covered = 0.0
    cur_start = cur_end = None
    for c in sorted(children, key=lambda c: c.start):
        lo, hi = max(c.start, span.start), min(c.end, span.end)
        if hi <= lo:
            continue
        if cur_end is None or lo > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = lo, hi
        else:
            cur_end = max(cur_end, hi)
    if cur_end is not None:
        covered += cur_end - cur_start
    return span.seconds - covered


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span name -> summed self time of the spans of that name."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + self_time(s, children.get(s.id, []))
    return out


# --- Spark event log ---------------------------------------------------------


@dataclass
class Task:
    stage: int
    launch_ms: int
    finish_ms: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    deserialize_ms: int
    result_ser_ms: int
    fetch_wait_ms: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int
    failed: bool

    @property
    def duration_ms(self) -> int:
        return self.finish_ms - self.launch_ms

    @property
    def sched_overhead_ms(self) -> int:
        return self.duration_ms - (
            self.run_ms + self.deserialize_ms + self.result_ser_ms + self.fetch_wait_ms
        )


@dataclass
class Stage:
    id: int
    num_tasks: int
    submit_ms: int
    complete_ms: int
    tasks: list[Task]

    @property
    def task_run_s(self) -> float:
        return sum(t.run_ms for t in self.tasks) / 1000


@dataclass
class Job:
    id: int
    submit_ms: int
    stage_ids: list[int]
    stages: list[Stage]


def _task(ev: dict) -> Task:
    info = ev["Task Info"]
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
    return Task(
        stage=ev["Stage ID"],
        launch_ms=info["Launch Time"],
        finish_ms=info["Finish Time"],
        run_ms=m.get("Executor Run Time", 0),
        cpu_ns=m.get("Executor CPU Time", 0),
        gc_ms=m.get("JVM GC Time", 0),
        deserialize_ms=m.get("Executor Deserialize Time", 0),
        result_ser_ms=m.get("Result Serialization Time", 0),
        fetch_wait_ms=sr.get("Fetch Wait Time", 0),
        shuffle_read_bytes=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
        spill_bytes=m.get("Disk Bytes Spilled", 0),
        failed=bool(info.get("Failed")) or reason != "Success",
    )


def read_event_log(lines) -> list[Job]:
    """Jobs, with their completed stages and those stages' tasks, from
    an iterable of event-log JSON lines. A stage listed by several jobs
    (a shuffle stage later jobs skip) belongs to the first: the job
    that ran it."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    tasks: list[Task] = []
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = Job(ev["Job ID"], ev["Submission Time"], ev["Stage IDs"], [])
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stages[info["Stage ID"]] = Stage(
                info["Stage ID"], info["Number of Tasks"],
                info.get("Submission Time", 0), info.get("Completion Time", 0), [],
            )
        elif kind == "SparkListenerTaskEnd":
            tasks.append(_task(ev))
    for t in tasks:
        if t.stage in stages:
            stages[t.stage].tasks.append(t)
    owned: set[int] = set()
    for job in sorted(jobs.values(), key=lambda j: j.id):
        for sid in job.stage_ids:
            if sid in stages and sid not in owned:
                owned.add(sid)
                job.stages.append(stages[sid])
    return sorted(jobs.values(), key=lambda j: j.id)


def event_log_lines(log_dir: Path):
    """Every line of every event-log file under ``log_dir``: a plain
    file per application, or rolling ``eventlog_v2_*`` directories of
    ``events_<n>_*`` parts, read in part order."""
    def part_key(p: Path):
        bits = p.name.split("_")
        return (str(p.parent), int(bits[1]) if len(bits) > 1 and bits[1].isdigit() else 0)

    files = [p for p in log_dir.rglob("*") if p.is_file() and not p.name.startswith(
        ("appstatus_", "."))]
    for path in sorted(files, key=part_key):
        with path.open() as fh:
            yield from fh


def attribute_jobs(jobs: list[Job], spans: list[Span]) -> dict[int, list[Job]]:
    """Span id -> jobs submitted while it was the innermost open span
    (the latest-starting span whose interval holds the submit time).
    Jobs outside every span are dropped."""
    by_span: dict[int, list[Job]] = {}
    ordered = sorted(spans, key=lambda s: s.start)
    for job in jobs:
        t = job.submit_ms / 1000
        owner = None
        for s in ordered:
            if s.start > t:
                break
            if t <= s.end:
                owner = s
        if owner is not None:
            by_span.setdefault(owner.id, []).append(job)
    return by_span


def spark_profile(jobs: list[Job], wall_s: float, cores: int) -> dict[str, float]:
    """The ``spark.*`` layer metrics for a set of jobs that ran during
    ``wall_s`` seconds of wall time on ``cores`` cores."""
    stages = [st for j in jobs for st in j.stages]
    tasks = [t for st in stages for t in st.tasks]
    task_s = sum(t.run_ms for t in tasks) / 1000
    underparallel = 0
    for st in stages:
        stage_wall = st.complete_ms - st.submit_ms
        if st.num_tasks < cores and st.tasks and stage_wall > 0:
            if max(t.duration_ms for t in st.tasks) >= UNDERPARALLEL_SHARE * stage_wall:
                underparallel += 1
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": len(tasks),
        "spark.small_stages": sum(st.task_run_s < SMALL_STAGE_S for st in stages),
        "spark.task_s": task_s,
        "spark.task_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
        "spark.gc_s": sum(t.gc_ms for t in tasks) / 1000,
        "spark.work_share": task_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "spark.sched_overhead_s": sum(t.sched_overhead_ms for t in tasks) / 1000,
        "spark.underparallel_stages": underparallel,
        "spark.shuffle_read_bytes": sum(t.shuffle_read_bytes for t in tasks),
        "spark.shuffle_write_bytes": sum(t.shuffle_write_bytes for t in tasks),
        "spark.spill_bytes": sum(t.spill_bytes for t in tasks),
        "spark.failed_tasks": sum(t.failed for t in tasks),
    }
