"""Event-log job tracer for one query (guide §1/§7): run a query N times
warm in one session with the Spark event log on, then print per-job walls
and the driver gaps between jobs for the LAST (warmest) repetition.

    python tools/job_trace.py q_kg_triples [reps]

Not part of the driver contract; diagnostic only.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(f"usage: {sys.argv[0]} <query name> [reps]")
    name = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    log_dir = "/tmp/spark-events-trace"
    import shutil

    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir, exist_ok=True)

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry
    from ner_backend_spark.spark.session import get_spark

    spark = get_spark(
        "job-trace",
        cores=CPUS,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    def ident(batches):
        yield from batches

    force(spark.range(0, 256, 1, 64).mapInPandas(ident, "id long"))
    qs = entry.queries()
    walls = []
    for i in range(reps):
        spark.sparkContext.setJobDescription(f"{name}#rep{i}")
        t0 = time.monotonic()
        force(qs[name](spark, SF_DIR))
        walls.append(round(time.monotonic() - t0, 3))
    print(f"walls: {walls}")
    spark.stop()

    paths = glob.glob(log_dir + "/*/events_*") or glob.glob(log_dir + "/*")
    jobs = {}
    last_rep = f"{name}#rep{reps-1}"

    def _lines():
        for path in paths:
            if path.endswith(".zstd"):
                import subprocess

                out = subprocess.run(
                    ["zstd", "-dc", path], capture_output=True, check=True
                ).stdout
                yield from out.decode().splitlines()
            else:
                with open(path) as f:
                    yield from f

    for line in _lines():
        ev = json.loads(line)
        e = ev.get("Event")
        if e == "SparkListenerJobStart":
            desc = ev.get("Properties", {}).get("spark.job.description", "")
            jobs[ev["Job ID"]] = {
                "desc": desc,
                "start": ev["Submission Time"],
                "n_stages": len(ev.get("Stage Infos", [])),
            }
        elif e == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
    sel = sorted(
        (j for j in jobs.values() if j["desc"] == last_rep),
        key=lambda j: j["start"],
    )
    if not sel:
        print("no jobs matched", last_rep)
        return
    t_origin = sel[0]["start"]
    prev_end = None
    tot_run = tot_gap = 0
    print(f"{len(sel)} jobs in {last_rep}:")
    for j in sel:
        # overlapping jobs would give negative gaps
        gap = max(j["start"] - prev_end, 0) if prev_end else 0
        tot_gap += gap
        if "end" in j:
            dur = j["end"] - j["start"]
            tot_run += dur
            prev_end = j["end"]
            dur_s = f"{dur/1000:6.3f}s"
        else:  # no JobEnd in the log: unknown, not zero
            prev_end = j["start"]
            dur_s = "  NO END"
        print(
            f"  +{(j['start']-t_origin)/1000:7.3f}s dur={dur_s} "
            f"gap={gap/1000:6.3f}s stages={j['n_stages']}"
        )
    no_end = sum("end" not in j for j in sel)
    print(
        f"sum job dur={tot_run/1000:.3f}s  sum gaps={tot_gap/1000:.3f}s"
        + (f"  ({no_end} jobs with no JobEnd left out of dur)" if no_end else "")
    )


if __name__ == "__main__":
    main()
