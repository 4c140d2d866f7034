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
SF dir and the run's ERROR lines. Per query: ``walls``, ``min``,
``median`` (the lower median, so one rep's wall) and ``error_lines`` per
rep; for the median rep, its jobs' event-log totals, ``driver_gap_s``
(wall with no job running), ``busy_s`` (the union of its job intervals,
unclipped, so ``wall - driver_gap_s - busy_s`` is job time outside the
span) and ``job_intervals`` (from the span start); from the profiled
pass, ``udf_pass_s`` and ``udf_self_s``, the pstats ``total_tt`` sum.
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


def _busy_seconds(intervals) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        total += max(e - max(s, end), 0.0)
        end = max(end, e)
    return total


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
        for _ in range(reps):
            for name in names:
                with tracer.span(name) as sp:
                    bench.force(qs[name](spark, bench.SF_DIR))
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
    capture.new_error_lines()
    stamp["error_lines"] = capture.total
    attribute_event_log(tracer, read_event_log(f"{work}/events"))

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
            **{k: round(v, 3) for k, v in med.engine.items() if k != "job_intervals"},
            "busy_s": round(_busy_seconds(ivs), 3),
            "driver_gap_s": round(driver_gap_seconds(tracer, med), 3),
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
