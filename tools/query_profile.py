"""Profile ``__spark_entry__.queries()`` entries in one Spark session.

    python tools/query_profile.py [name,name,...] [reps]

Run from the repository root. Names default to ``bench.BENCH_QUERIES``,
reps to 3, the input to ``$SPARK_GRAFT_SF_DIR`` (else sf0.1) and the
cores to ``get_spark``'s. After the Python workers warm up, rep 1 of
every query runs, then rep 2, and so on, each forced into the ``noop``
sink in its own ``perfbench/spans.py`` span. One more pass per query runs
under the UDF profiler, untimed because the profiler slows what it
measures. The stopped session's event log is then charged to the spans.

The last stdout line is one JSON object, ``{"stamp", "queries"}``. The
stamp has cores, ``nproc``, loadavg before and after, the git commit, the
SF dir, the run's ERROR lines and ``steal``, the host's CPU steal share
over the session (the ``steal`` jiffies of ``/proc/stat``'s ``cpu`` line
over all its jiffies, 0 to 1), which a loadavg inside a VM does not see.
Per query: ``walls``, ``min``, ``median`` (the lower median, so one
rep's wall), and ``error_lines`` and ``steal`` per rep; for the median
rep, its jobs' event-log totals, ``driver_gap_s`` (wall with no job
running), ``busy_s`` (the union of its job intervals, unclipped, so
``wall - driver_gap_s - busy_s`` is job time outside the span) and
``job_intervals`` (from the span start); from the profiled
pass, ``udf_pass_s`` and ``udf_self_s``, the pstats ``total_tt`` sum.

``driver_gap_s`` is split three ways from the SQL execution events of
the same event log, an execution counted with its nested ones (same root
id): ``gap_outside_sql_s``, no execution open (driver Python, analysis);
``gap_to_first_job_s``, an execution open but none of its jobs started
yet (optimization, physical planning); ``gap_between_jobs_s``, after an
open execution's first job (AQE re-planning, stage submission, result
handling). The three sum to ``driver_gap_s``.
Python-kernel time is UDF self time only: its Arrow serialization share
is neither split out nor estimated.
"""

from __future__ import annotations

import glob
import json
import os
import pstats
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import bench  # noqa: E402
from spans import (  # noqa: E402
    StderrCapture, Tracer, attribute_event_log, driver_gap_seconds, read_event_log,
)


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the host CPU so far, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def _steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return round((end[0] - start[0]) / total, 4) if total else 0.0


def _busy_seconds(intervals) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        total += max(e - max(s, end), 0.0)
        end = max(end, e)
    return total


def _sql_executions(log_dir: str) -> tuple[dict, dict]:
    """(executions, first_job): each root SQL execution's [start, end]
    seconds, and the submission time of its first job, from the same event
    log files ``read_event_log`` reads."""
    root, spans, first = {}, {}, {}
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.basename(path).startswith(("events", "local-")):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind.endswith("SparkListenerSQLExecutionStart"):
                    x = ev["executionId"]
                    root[x] = ev.get("rootExecutionId", x)
                    spans.setdefault(root[x], [ev["time"] / 1e3, float("inf")])
                elif kind.endswith("SparkListenerSQLExecutionEnd"):
                    x = ev["executionId"]
                    if root.get(x) == x:
                        spans[x][1] = ev["time"] / 1e3
                elif kind == "SparkListenerJobStart":
                    x = (ev.get("Properties") or {}).get("spark.sql.execution.id")
                    if x is not None and int(x) in root:
                        r = root[int(x)]
                        t = ev["Submission Time"] / 1e3
                        first[r] = min(first.get(r, t), t)
    return spans, first


def _gap_split(sp, intervals, executions: dict, first_job: dict) -> dict:
    """``driver_gap_s`` of ``sp`` (its wall with none of ``intervals``
    running) split by the SQL executions open at each instant."""
    lo, hi = sp.start, sp.end
    open_x = {x: (s, e) for x, (s, e) in executions.items() if s < hi and e > lo}
    cuts = {lo, hi}
    for s, e in [*intervals, *open_x.values()]:
        cuts.update(t for t in (s, e) if lo < t < hi)
    cuts.update(t for x, t in first_job.items() if x in open_x and lo < t < hi)
    parts = dict.fromkeys(
        ("gap_outside_sql_s", "gap_to_first_job_s", "gap_between_jobs_s"), 0.0
    )
    cuts = sorted(cuts)
    for a, b in zip(cuts, cuts[1:]):
        t = (a + b) / 2
        if any(s <= t < e for s, e in intervals):
            continue
        inside = [x for x, (s, e) in open_x.items() if s <= t < e]
        if not inside:
            key = "gap_outside_sql_s"
        elif any(first_job.get(x, hi) <= t for x in inside):
            key = "gap_between_jobs_s"
        else:
            key = "gap_to_first_job_s"
        parts[key] += b - a
    return parts


def _udf_self_seconds(spark, work: str) -> float:
    prof_dir = tempfile.mkdtemp(prefix="udf_", dir=work)
    spark.profile.dump(prof_dir, type="perf")
    spark.profile.clear()
    return sum(
        (pstats.Stats(p).total_tt for p in glob.glob(os.path.join(prof_dir, "*.pstats"))),
        0.0,
    )


def profile(names: list[str], reps: int, work: str, capture: StderrCapture) -> dict:
    import __spark_entry__ as entry
    from ner_backend_spark.spark.session import get_spark

    session_cpu = _cpu_jiffies()
    stamp = {
        "sf_dir": bench.SF_DIR, "reps": reps, "nproc": os.cpu_count(),
        "loadavg_before": os.getloadavg(),
        "git_commit": subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True
        ).stdout.strip(),
    }
    os.makedirs(f"{work}/events")
    spark = get_spark("profile", extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{work}/events",
        "spark.eventLog.compress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    stamp["cores"] = spark.sparkContext.defaultParallelism
    tracer = Tracer("profile", True, capture)
    tracer.spark = spark
    qs = entry.queries()
    try:
        bench.warm_python_workers(spark)
        capture.new_error_lines()  # startup noise is charged to no query
        timed = {name: [] for name in names}
        steal = {name: [] for name in names}
        for _ in range(reps):
            for name in names:
                cpu = _cpu_jiffies()
                with tracer.span(name) as sp:
                    bench.force(qs[name](spark, bench.SF_DIR))
                steal[name].append(_steal_share(cpu, _cpu_jiffies()))
                timed[name].append(sp)
        udf = {}
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        for name in names:
            with tracer.span(f"{name}:udf") as sp:
                bench.force(qs[name](spark, bench.SF_DIR))
            udf[name] = {"udf_self_s": round(_udf_self_seconds(spark, work), 3),
                         "udf_pass_s": round(sp.seconds, 3)}
    finally:
        spark.stop()
    stamp["loadavg_after"] = os.getloadavg()
    stamp["steal"] = _steal_share(session_cpu, _cpu_jiffies())
    capture.new_error_lines()
    stamp["error_lines"] = capture.total
    attribute_event_log(tracer, read_event_log(f"{work}/events"))
    executions, first_job = _sql_executions(f"{work}/events")

    out = {}
    for name, sps in timed.items():
        med = sorted(sps, key=lambda s: s.seconds)[(len(sps) - 1) // 2]
        ivs = med.engine["job_intervals"]
        walls = [round(s.seconds, 3) for s in sps]
        out[name] = {
            "walls": walls,
            "min": min(walls),
            "median": round(med.seconds, 3),
            "error_lines": [s.error_lines for s in sps],
            "steal": steal[name],
            **{k: round(v, 3) for k, v in med.engine.items() if k != "job_intervals"},
            "busy_s": round(_busy_seconds(ivs), 3),
            "driver_gap_s": round(driver_gap_seconds(tracer, med), 3),
            **{
                k: round(v, 3)
                for k, v in _gap_split(med, ivs, executions, first_job).items()
            },
            "job_intervals": [
                [round(s - med.start, 3), round(e - med.start, 3)] for s, e in ivs
            ],
            **udf[name],
        }
    return {"stamp": stamp, "queries": out}


def main() -> None:
    names = sys.argv[1].split(",") if len(sys.argv) > 1 else bench.BENCH_QUERIES
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    work = tempfile.mkdtemp(prefix="profile_")
    capture = StderrCapture(work)
    try:
        result = profile(names, reps, work, capture)
    finally:
        capture.close()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
