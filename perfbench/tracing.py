"""Spans around calls into sparkfuse, and the Spark jobs each span ran.

A span records (id, name, start, end, parent, run id) in memory, plus the
share of busy CPU time the host stole meanwhile (see ``host.Clock``). While a
span is open its id is the Spark job description, so every job, stage and
task Spark runs inside it carries that id. The traced session writes a
Spark event log; after the session stops, ``job_metrics`` reads it and sums
jobs, tasks, task time and shuffle bytes per description.
With tracing off every span is a no-op and no job description is set.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from host import Clock


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str
    steal: float

    @property
    def seconds(self) -> float:
        """Duration net of steal."""
        return (self.end - self.start) * (1.0 - self.steal)


@dataclass
class JobTotals:
    jobs: int = 0
    tasks: int = 0
    task_s: float = 0.0
    shuffle_write_mb: float = 0.0

    def add(self, other: "JobTotals") -> None:
        self.jobs += other.jobs
        self.tasks += other.tasks
        self.task_s += other.task_s
        self.shuffle_write_mb += other.shuffle_write_mb


@dataclass
class Tracer:
    run_id: str
    enabled: bool
    sc: object = None  # SparkContext, set once the session is up
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _ids: itertools.count = field(default_factory=lambda: itertools.count(1))
    _paused: bool = False

    def _describe(self, span_id: int | None) -> None:
        if self.sc is not None:
            self.sc.setJobDescription(
                None if span_id is None else f"perfbench {self.run_id} {span_id}"
            )

    @contextmanager
    def paused(self):
        """Run a block untraced inside a traced run (overhead baseline)."""
        self._paused = True
        try:
            yield
        finally:
            self._paused = False

    @contextmanager
    def span(self, name: str):
        if not self.enabled or self._paused:
            yield
            return
        span_id = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(span_id)
        self._describe(span_id)
        c0 = Clock.now()
        try:
            yield
        finally:
            c1 = Clock.now()
            self._stack.pop()
            self._describe(parent)
            self.spans.append(Span(span_id, name, c0.wall, c1.wall, parent, self.run_id,
                                   c0.steal_share(c1)))

    def durations(self, name: str) -> list[float]:
        return [s.seconds for s in self.spans if s.name == name]

    def subtree_totals(self, name: str, per_span: dict[int, JobTotals]) -> list[JobTotals]:
        """Job totals of each span called ``name``, its descendants included."""
        kids: dict[int, list[int]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s.id)
        out = []
        for s in self.spans:
            if s.name != name:
                continue
            tot, todo = JobTotals(), [s.id]
            while todo:
                sid = todo.pop()
                if sid in per_span:
                    tot.add(per_span[sid])
                todo.extend(kids.get(sid, ()))
            out.append(tot)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def job_metrics(event_log_dir: str, run_id: str) -> dict[int, JobTotals]:
    """Per-span job totals from a finished Spark event log."""
    prefix = f"perfbench {run_id} "
    per_span: dict[int, JobTotals] = {}
    stage_span: dict[int, int] = {}

    def span_of(props) -> int | None:
        desc = (props or {}).get("spark.job.description") or ""
        return int(desc[len(prefix):]) if desc.startswith(prefix) else None

    # Spark writes either one file or a rolling directory of files per app
    paths = glob.glob(os.path.join(event_log_dir, "**", "*"), recursive=True)
    for path in sorted(p for p in paths if os.path.isfile(p)):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    sid = span_of(ev.get("Properties"))
                    if sid is not None:
                        per_span.setdefault(sid, JobTotals()).jobs += 1
                elif kind == "SparkListenerStageSubmitted":
                    sid = span_of(ev.get("Properties"))
                    if sid is not None:
                        stage_span[ev["Stage Info"]["Stage ID"]] = sid
                elif kind == "SparkListenerTaskEnd":
                    sid = stage_span.get(ev["Stage ID"])
                    metrics = ev.get("Task Metrics")
                    if sid is None or not metrics:
                        continue
                    tot = per_span.setdefault(sid, JobTotals())
                    tot.tasks += 1
                    tot.task_s += metrics.get("Executor Run Time", 0) / 1000.0
                    written = metrics.get("Shuffle Write Metrics", {})
                    tot.shuffle_write_mb += written.get("Shuffle Bytes Written", 0) / 2**20
    return per_span
