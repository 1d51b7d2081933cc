"""Spans recorded around calls into the engine, and a fold of Spark's own
event log into those spans.

A span is (name, start, end, parent, run id) plus the ids of the Spark jobs
``statusTracker`` saw start inside it.  Spans live in memory and are
written out when the run ends.  After the SparkContext stops (which
flushes the event log), ``EventLog.fold`` sums the jobs, stages and task
metrics whose job was submitted inside a span's window.
"""

from __future__ import annotations

import json
import re
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path

# a job is attributed to an engine layer when Spark recorded a call site
# inside the engine package; the rest (localCheckpoint, AQE sub-jobs) are not
_ENGINE_SITE = re.compile(r"crawl4ai_spark/(\S+\.py:\d+)")

# Python-stage SQL metrics, summed from task accumulable updates
_PY_METRICS = {
    "time to run Python workers": "python_run_ms",
    "time to start Python workers": "python_start_ms",
    "data sent to Python workers": "python_bytes_sent",
}


@dataclass
class Span:
    name: str
    start_ms: float
    end_ms: float
    parent: str | None
    run_id: str
    job_ids: list[int] = field(default_factory=list)

    @property
    def ms(self) -> float:
        return self.end_ms - self.start_ms


class Tracer:
    def __init__(self, spark, run_id: str):
        self._tracker = spark.sparkContext.statusTracker()
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[str] = []

    def _job_ids(self) -> set[int]:
        return set(self._tracker.getJobIdsForGroup(None))

    @contextmanager
    def span(self, name: str):
        before = self._job_ids()
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.time() * 1000
        try:
            yield
        finally:
            end = time.time() * 1000
            self._stack.pop()
            self.spans.append(Span(name, start, end, parent, self.run_id,
                                   sorted(self._job_ids() - before)))

    def get(self, name: str) -> Span:
        return next(s for s in self.spans if s.name == name)

    def write(self, path: Path) -> None:
        path.write_text(json.dumps([asdict(s) for s in self.spans], indent=1))


@dataclass
class Job:
    submit_ms: float
    end_ms: float
    stage_ids: list[int]
    call_site: str


@dataclass
class Fold:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_failures: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    executor_cpu_ms: float = 0.0
    python_run_ms: float = 0.0
    python_start_ms: float = 0.0
    python_bytes_sent: int = 0
    busy_ms: float = 0.0          # union of job intervals inside the window
    call_sites: Counter = field(default_factory=Counter)

    @property
    def unattributed_jobs(self) -> int:
        return self.engine_sites()["unattributed"]

    def engine_sites(self) -> Counter:
        """Jobs per engine call site (``plans/frontier.py:677``), with the
        jobs Spark recorded no engine call site for under "unattributed"."""
        out = Counter()
        for site, n in self.call_sites.items():
            m = _ENGINE_SITE.search(site)
            out[m.group(1) if m else "unattributed"] += n
        return out


class EventLog:
    """One application's uncompressed, non-rolling JSON event log."""

    def __init__(self, path: Path):
        self.jobs: dict[int, Job] = {}
        self.completed_stages: dict[int, float] = {}   # stage id -> submission time
        self.tasks: dict[int, list[dict]] = {}
        with open(path) as fh:
            for line in fh:
                self._add(json.loads(line))

    @classmethod
    def from_dir(cls, log_dir: Path) -> "EventLog":
        files = [p for p in log_dir.iterdir() if not p.name.startswith(".")]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
        return cls(files[0])

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            infos = e.get("Stage Infos") or []
            site = (e.get("Properties") or {}).get("callSite.short") or (
                infos[-1]["Stage Name"] if infos else "")
            self.jobs[e["Job ID"]] = Job(e["Submission Time"], e["Submission Time"],
                                         list(e["Stage IDs"]), site)
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(e["Job ID"])
            if job is not None:
                job.end_ms = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            self.completed_stages[info["Stage ID"]] = info.get("Submission Time", 0)
        elif kind == "SparkListenerTaskEnd":
            self.tasks.setdefault(e["Stage ID"], []).append(e)

    def fold(self, start_ms: float, end_ms: float) -> Fold:
        f = Fold()
        jobs = [j for j in self.jobs.values() if start_ms <= j.submit_ms <= end_ms]
        f.jobs = len(jobs)
        f.call_sites = Counter(j.call_site for j in jobs)
        # a job lists stages it skipped because an earlier job ran them;
        # count only stages that ran inside the window
        stages = {s for j in jobs for s in j.stage_ids
                  if start_ms <= self.completed_stages.get(s, -1) <= end_ms}
        f.stages = len(stages)
        for sid in stages:
            for t in self.tasks.get(sid, ()):
                _add_task(f, t)
        f.busy_ms = _union_ms([(max(j.submit_ms, start_ms), min(j.end_ms, end_ms))
                               for j in jobs])
        return f

    def fold_span(self, span: Span) -> Fold:
        return self.fold(span.start_ms, span.end_ms)


def _add_task(f: Fold, t: dict) -> None:
    f.tasks += 1
    if t.get("Task End Reason", {}).get("Reason") != "Success":
        f.task_failures += 1
    m = t.get("Task Metrics") or {}
    f.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    rd = m.get("Shuffle Read Metrics", {})
    f.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
    f.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    f.executor_cpu_ms += m.get("Executor CPU Time", 0) / 1e6
    for acc in t.get("Task Info", {}).get("Accumulables", ()):
        key = _PY_METRICS.get(acc.get("Name"))
        if key is not None:
            setattr(f, key, getattr(f, key) + int(acc.get("Update") or 0))


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
