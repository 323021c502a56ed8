"""Spans held in memory, and the Spark event-log summary of a traced job.

A span has a name, start and end (seconds on the monotonic clock, relative
to the tracer's creation), the id of the span that was open when it began
(its parent) and the run id shared by every span of one run. Spans are
written out once, at the end of the run.
"""

from __future__ import annotations

import json
import statistics
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str | None = None):
        self.run_id = run_id or uuid.uuid4().hex
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        s = Span(
            id=len(self.spans),
            name=name,
            parent=self._open[-1].id if self._open else None,
            run_id=self.run_id,
            start=time.perf_counter() - self._t0,
        )
        self.spans.append(s)
        self._open.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter() - self._t0
            self._open.pop()

    def self_time(self, span: Span) -> float:
        """Duration minus the part covered by direct children (children of
        one span run one after another, so their durations add)."""
        return span.duration - sum(
            c.duration for c in self.spans if c.parent == span.id
        )

    def to_json(self) -> list[dict]:
        return [
            {**asdict(s), "self": self.self_time(s)} for s in self.spans
        ]


# local property naming the span that submitted a Spark job; it is copied
# into every SparkListenerJobStart event of the event log
SPAN_PROPERTY = "perfbench.span"


@contextmanager
def tag_jobs(spark, name: str):
    sc = spark.sparkContext
    sc.setLocalProperty(SPAN_PROPERTY, name)
    try:
        yield
    finally:
        sc.setLocalProperty(SPAN_PROPERTY, None)


def event_log_file(log_dir: Path) -> Path:
    files = [p for p in log_dir.iterdir() if not p.name.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return files[0]


def max_over_median(xs: list[float]) -> float:
    med = statistics.median(xs) if xs else 0.0
    return max(xs) / med if med else 0.0


def _union_s(intervals: list[tuple[int, int]]) -> float:
    """Seconds covered by millisecond intervals, overlaps counted once."""
    total, reach = 0, float("-inf")
    for start, end in sorted(intervals):
        start = max(start, reach)
        if end > start:
            total += end - start
        reach = max(reach, end)
    return total / 1e3


def job_summary(log_file: Path, span_name: str) -> dict[str, float]:
    """Over the jobs that ``span_name`` submitted: the time they ran,
    shuffle write, spill, GC and task counts, and the task skew (max /
    median executor run time) of their kernel stage: the stage that ran
    Python workers, or the stage with the most run time when none did."""
    stages: set[int] = set()
    python_stages: set[int] = set()
    tasks: dict[int, list[dict]] = {}
    submitted: dict[int, int] = {}
    completed: dict[int, int] = {}
    with open(log_file) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                if (ev.get("Properties") or {}).get(SPAN_PROPERTY) == span_name:
                    stages.update(ev["Stage IDs"])
                    submitted[ev["Job ID"]] = ev["Submission Time"]
            elif kind == "SparkListenerJobEnd":
                completed[ev["Job ID"]] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                tasks.setdefault(ev["Stage ID"], []).append(ev.get("Task Metrics") or {})
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if any("Python workers" in a.get("Name", "") for a in info["Accumulables"]):
                    python_stages.add(info["Stage ID"])
    mine = {s: tasks[s] for s in stages if s in tasks}
    all_tasks = [t for ts in mine.values() for t in ts]
    run_time = {s: sum(t.get("Executor Run Time", 0) for t in ts) for s, ts in mine.items()}
    kernel = [s for s in mine if s in python_stages] or sorted(
        run_time, key=run_time.get, reverse=True
    )[:1]
    kernel_times = [t.get("Executor Run Time", 0) for s in kernel for t in mine[s]]
    return {
        "spark.job_s": _union_s([(t, completed[j]) for j, t in submitted.items()]),
        "spark.shuffle_write_mb": sum(
            (t.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            for t in all_tasks
        )
        / 1e6,
        "spark.spill_mb": sum(t.get("Disk Bytes Spilled", 0) for t in all_tasks) / 1e6,
        "spark.gc_s": sum(t.get("JVM GC Time", 0) for t in all_tasks) / 1e3,
        "spark.tasks": len(all_tasks),
        "spark.task_skew": max_over_median(kernel_times),
    }
