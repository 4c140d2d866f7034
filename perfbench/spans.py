"""Spans around the program's public calls, plus event-log attribution.

A span records name, start, end, parent and the run id. With tracing on,
each span also sets a Spark job group, so the jobs a call launched are
counted from ``statusTracker().getJobIdsForGroup``, and reads the new
Spark ERROR lines written to the captured stderr since the last boundary.
With tracing off a span only keeps its clock, which is all the
end-to-end metrics need.

After the session stops, :func:`attribute_event_log` reads the Spark event
log and charges every job, with its stages and tasks, to the innermost
span whose interval encloses the job's submission time.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import tempfile
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


class StderrCapture:
    """Point fd 2 at a file, so the Spark JVM, which inherits fd 2 when it
    launches, logs there; count ERROR lines incrementally; copy the whole
    log back to the real stderr on close."""

    def __init__(self, directory: str) -> None:
        sys.stderr.flush()
        self._orig_fd = os.dup(2)
        fd, self.path = tempfile.mkstemp(prefix="stderr_", suffix=".log", dir=directory)
        os.dup2(fd, 2)
        os.close(fd)
        self._offset = 0
        self.total = 0

    def new_error_lines(self) -> int:
        sys.stderr.flush()
        with open(self.path, "rb") as f:
            f.seek(self._offset)
            chunk = f.read()
        self._offset += len(chunk)
        n = sum(
            1 for ln in chunk.decode("utf-8", "replace").splitlines()
            if " ERROR " in ln
        )
        self.total += n
        return n

    def close(self) -> None:
        sys.stderr.flush()
        os.dup2(self._orig_fd, 2)
        os.close(self._orig_fd)
        with open(self.path, "rb") as f:
            data = f.read()
        if data:
            os.write(2, data if data.endswith(b"\n") else data + b"\n")
        os.unlink(self.path)


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    run_id: str
    end: float = 0.0
    group: str | None = None
    jobs: int = 0  # jobs launched while this span was innermost
    error_lines: int = 0  # ERROR lines logged while this span was innermost
    engine: dict = field(default_factory=dict)  # event-log totals, own jobs only

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str, traced: bool, capture: StderrCapture | None):
        self.run_id = run_id
        self.traced = traced
        self.capture = capture
        self.spark = None
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def _drain_errors(self) -> None:
        if self.traced and self.capture is not None and self._stack:
            self.spans[self._stack[-1]].error_lines += self.capture.new_error_lines()

    def _set_group(self, group: str | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str):
        self._drain_errors()
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.time(), parent, self.run_id)
        if self.traced:
            sp.group = f"{self.run_id}:{idx}:{name}"
            self._set_group(sp.group)
        self.spans.append(sp)
        self._stack.append(idx)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._drain_errors()
            self._stack.pop()
            if self.traced and self.spark is not None:
                sc = self.spark.sparkContext
                if sc._jsc is not None:
                    sp.jobs = len(sc.statusTracker().getJobIdsForGroup(sp.group))
                outer = self.spans[self._stack[-1]].group if self._stack else None
                self._set_group(outer)

    # -- queries over the finished span tree ------------------------------

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, sp: Span) -> list[Span]:
        i = self.spans.index(sp)
        return [s for s in self.spans if s.parent == i]

    def subtree(self, sp: Span) -> list[Span]:
        """``sp`` and its descendants (parents precede their children)."""
        ids = {self.spans.index(sp)}
        for j, s in enumerate(self.spans):
            if s.parent in ids:
                ids.add(j)
        return [self.spans[j] for j in sorted(ids)]

    def jobs_total(self, sp: Span) -> int:
        return sum(s.jobs for s in self.subtree(sp))

    def engine_total(self, sp: Span, key: str) -> float:
        return sum(s.engine.get(key, 0) for s in self.subtree(sp))

    def self_seconds(self, sp: Span) -> float:
        return sp.seconds - _union_length(
            [(c.start, c.end) for c in self.children(sp)], sp.start, sp.end
        )

    def coverage(self, sp: Span) -> float:
        """Share of ``sp``'s wall covered by its child spans."""
        return 1.0 - self.self_seconds(sp) / max(sp.seconds, 1e-9)

    def dump(self, path: str, extra: dict) -> None:
        rows = [
            {
                "id": i, "name": s.name, "parent": s.parent, "run_id": s.run_id,
                "start": s.start, "end": s.end, "seconds": s.seconds,
                "self_seconds": self.self_seconds(s), "jobs": s.jobs,
                "error_lines": s.error_lines, "engine": s.engine,
            }
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as f:
            json.dump({"spans": rows, **extra}, f, indent=1)


def _union_length(intervals, lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


ENGINE_KEYS = (
    "jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
    "executor_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes",
)


def read_event_log(log_dir: str) -> dict:
    """Jobs (id -> submit/end seconds, stage ids), stage task counts and
    per-stage task-metric totals from an uncompressed event log: a single
    ``local-*`` file, or the ``events_*`` parts of an ``eventlog_v2_*``
    directory."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    paths = glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
    for path in sorted(p for p in paths if os.path.basename(p).startswith("events")
                       or os.path.basename(p).startswith("local-")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "start": ev["Submission Time"] / 1000.0,
                        "end": ev["Submission Time"] / 1000.0,
                        "stages": ev.get("Stage IDs", []),
                    }
                    for sid in ev.get("Stage IDs", []):
                        # a later job lists a stage it reuses but skips;
                        # the first job listing it is the one that ran it
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    st = stages.setdefault(ev["Stage Info"]["Stage ID"], _zero())
                    st["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], _zero())
                    st["tasks"] += 1
                    if ev["Task End Reason"].get("Reason") != "Success":
                        st["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    st["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    st["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["shuffle_read_bytes"] += sr.get(
                        "Remote Bytes Read", 0
                    ) + sr.get("Local Bytes Read", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    return {"jobs": jobs, "stage_job": stage_job, "stages": stages}


def _zero() -> dict:
    return {k: 0 for k in ENGINE_KEYS if k != "jobs"}


def attribute_event_log(tracer: Tracer, log: dict) -> None:
    """Charge each job, and the task totals of the stages it ran, to the
    innermost span enclosing the job's submission time; keep each span's
    job intervals for the driver-gap measure."""
    for s in tracer.spans:
        s.engine = {k: 0 for k in ENGINE_KEYS}
        s.engine["job_intervals"] = []
    owner_of: dict[int, Span] = {}
    for jid, job in log["jobs"].items():
        owner = None
        for s in tracer.spans:
            if s.start <= job["start"] <= s.end and (
                owner is None or s.start >= owner.start
            ):
                owner = s
        if owner is not None:
            owner_of[jid] = owner
            owner.engine["jobs"] += 1
            owner.engine["job_intervals"].append((job["start"], job["end"]))
    for sid, totals in log["stages"].items():
        owner = owner_of.get(log["stage_job"].get(sid))
        if owner is not None:
            for k, v in totals.items():
                owner.engine[k] += v


def driver_gap_seconds(tracer: Tracer, sp: Span) -> float:
    """Wall of ``sp`` during which no job of its subtree was running."""
    intervals = [
        iv for s in tracer.subtree(sp) for iv in s.engine.get("job_intervals", [])
    ]
    return sp.seconds - _union_length(intervals, sp.start, sp.end)
