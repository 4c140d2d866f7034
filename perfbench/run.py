"""Seeded, warm benchmark of the deploy and KG refresh paths.

    python3 perfbench/run.py --workload deploy_presidio --seed 3 \
        --seconds 20 --trace 0

Run from the repository root. One process starts one ``local[4]`` Spark
session through ``spark/session.py``'s ``get_spark``, runs an untimed
warm-up of the workload on its own slice of the seeded input, times the
workload by calling the program's public entry points, checks the outputs
and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json; ``--trace
1`` turns on the Spark event log, job groups and ERROR-line counting per
span and reports the per-layer metrics instead, with the peak RSS of the
process tree (this process, the JVM and its Python workers). The line
before the result carries the environment stamp (cores, loadavg, versions,
commit, seed) and the check details; the same record, with every span
when traced, is written to ``.perfbench_out/``. Scratch data lives in
``.perfbench_work/`` and is deleted at exit.

The timed work is fixed, so two commits always time the same work; it
was sized for a timed pass of about 15-30 s, and a whole run of about a
minute, on a shared 4-vCPU machine. The work is bound by per-job overhead,
so smaller inputs would not make a run shorter. ``--seconds`` is recorded
in the stamp.

``--record`` stores the run's output digests in ``digests.json`` for the
seed's window instead of comparing with them, after extra independent
checks (stage-checkpointed triples equal the one-shot build; incremental
components equal a batch rebuild).

The benchmark's own tests: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import threading
import time
import traceback
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4

def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants (JVM and
    Python workers), sampled every 100 ms."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_evt.is_set():
            tree = [me, *_descendants(me)]
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in tree))
            self._stop_evt.wait(0.1)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        path = os.path.join(ROOT, ".git", ref[5:])
        if os.path.exists(path):
            with open(path) as f:
                return f.read().strip()
        with open(os.path.join(ROOT, ".git", "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(ref[5:]):
                    return line.split()[0]
    except OSError:
        pass
    return None


def _start_spark(work: str, traced: bool):
    from ner_backend_spark.spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
    }
    if traced:
        os.makedirs(f"{work}/events", exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/events",
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("perfbench", cores=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and the JVM gateway, then wait for every process
    the session started (JVM, Python daemon and workers) to exit."""
    from pyspark import SparkContext

    tree = _descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - escalate to a kill below
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while tree and time.time() < deadline:
        tree = [p for p in tree if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if tree:
            time.sleep(0.1)
    for p in tree:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def _within(tracer, parent, name):
    return [s for s in tracer.subtree(parent) if s.name == name]


def end_to_end_metrics(tracer) -> dict:
    return {
        "wall_s": tracer.find("pass")[0].seconds,
        "setup_s": tracer.find("setup")[0].seconds,
    }


def layer_metrics(tracer, extra: dict, log: dict, capture, sampler) -> dict:
    """Every per-layer metric; layers a workload does not call read 0."""
    from spans import driver_gap_seconds

    p = tracer.find("pass")[0]

    def secs(name: str) -> float:
        return sum(s.seconds for s in _within(tracer, p, name))

    def jobs(name: str) -> int:
        return sum(tracer.jobs_total(s) for s in _within(tracer, p, name))

    stages = extra.get("kg.stages", {})
    stage_s = {st: stages.get(st, {}).get("seconds", 0.0) for st in (
        "mentions", "edges", "components", "canonical", "triples")}
    win = extra.get("kg.stage_windows", {}).get("components")
    comp_jobs = sum(
        1 for j in log["jobs"].values() if win and win[0] <= j["start"] <= win[1]
    )
    kg_run = secs("kg.run")
    m = {
        "session.start_s": tracer.find("session.start")[0].seconds,
        "warmup.s": tracer.find("warmup")[0].seconds,
        "report.run_s": secs("report.run"),
        "report.jobs": jobs("report.run"),
        "report.commits": extra.get("report.commits", 0),
        "report.bytes_written": extra.get("report.bytes_written", 0),
        "tagger.noop_s": extra.get("tagger.noop_s", 0.0),
        "tagger.udf_self_s": extra.get("tagger.udf_self_s", 0.0),
        "tagger.entities": extra.get("tagger.entities", 0),
        "report.commit_overhead_s": secs("report.run") - extra.get("tagger.noop_s", 0.0),
        "kg.run_s": kg_run,
        **{f"kg.{st}_s": v for st, v in stage_s.items()},
        "kg.prelude_s": kg_run - sum(stage_s.values()) if kg_run else 0.0,
        "kg.jobs": jobs("kg.run"),
        "kg.components_jobs": comp_jobs,
        "kg.mentions": stages.get("mentions", {}).get("n_rows", 0),
        "kg.candidate_edges": stages.get("edges", {}).get("n_rows", 0),
        "kg.triples": stages.get("triples", {}).get("n_rows", 0),
        "graph.cooc_s": secs("graph.cooc"),
        "graph.kcore_s": secs("graph.kcore"),
        "graph.truss_s": secs("graph.truss"),
        "graph.kcore_jobs": jobs("graph.kcore"),
        "graph.truss_jobs": jobs("graph.truss"),
        "kg_update.batch_s": extra.get("kg_update.batch_s", 0.0),
        "kg_update.jobs_per_batch": extra.get("kg_update.jobs_per_batch", 0),
        "kg_update.state_bytes": extra.get("kg_update.state_bytes", 0),
        "kg_update.new_mentions": extra.get("kg_update.new_mentions", 0),
        "spark.jobs": tracer.engine_total(p, "jobs"),
        "spark.stages": tracer.engine_total(p, "stages"),
        "spark.tasks": tracer.engine_total(p, "tasks"),
        "spark.driver_gap_s": driver_gap_seconds(tracer, p),
        "spark.executor_run_s": tracer.engine_total(p, "executor_run_s"),
        "spark.executor_cpu_s": tracer.engine_total(p, "executor_cpu_s"),
        "spark.shuffle_read_bytes": tracer.engine_total(p, "shuffle_read_bytes"),
        "spark.shuffle_write_bytes": tracer.engine_total(p, "shuffle_write_bytes"),
        "spark.failed_tasks": tracer.engine_total(p, "failed_tasks"),
        "spark.error_lines": capture.total,
        "peak_rss_mb": sampler.peak / 2**20,
        "trace.wall_s": p.seconds,
        "trace.span_coverage": tracer.coverage(p),
    }
    return m


def _units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {
        m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]
    }


def run(args, work: str, capture, sampler) -> tuple[dict, dict]:
    import checks
    import gen
    import spans
    from workloads import WORKLOADS

    traced = bool(args.trace)
    run_id = uuid.uuid4().hex[:12]
    tracer = spans.Tracer(run_id, traced, capture)
    wl = WORKLOADS[args.workload](work, args.seed)
    window = gen.window_of(args.seed)
    stamp = {
        "workload": args.workload, "seed": args.seed, "window": window,
        "trace": traced, "run_id": run_id, "nproc": os.cpu_count(),
        "cores": CORES, "loadavg_before": _loadavg(),
        "python": sys.version.split()[0], "git_commit": _git_commit(),
        "seconds_arg": args.seconds,
    }
    spark = None
    try:
        with tracer.span("run"):
            with tracer.span("prepare"):
                wl.prepare()
            with tracer.span("setup"):
                with tracer.span("session.start"):
                    spark = _start_spark(work, traced)
                tracer.spark = spark
                stamp["spark"] = spark.version
                stamp["java"] = spark._jvm.System.getProperty("java.version")
                with tracer.span("input.load"):
                    wl.load(spark)
                with tracer.span("warmup"):
                    wl.warmup(spark, tracer)
            res = wl.timed(spark, tracer)
            with tracer.span("check"):
                wl.check(spark, res, args.record)
                recorded = checks.load_recorded()
                if args.record and res.failed == 0:
                    recorded.setdefault(args.workload, {})[str(window)] = res.digests
                    with open(checks.DIGESTS_PATH, "w") as f:
                        json.dump(recorded, f, indent=1, sort_keys=True)
                        f.write("\n")
                elif not args.record:
                    bad = checks.compare_digests(
                        recorded, args.workload, window, res.digests
                    )
                    for name in sorted(res.digests):
                        res.check(f"digest.{name}", name not in bad)
            extra = {}
            if traced:
                with tracer.span("layers"):
                    extra = wl.layers(spark, tracer, res)
    finally:
        if spark is not None:
            _stop_spark(spark)
    sampler.stop()
    capture.new_error_lines()
    stamp["loadavg_after"] = _loadavg()

    if traced:
        log = spans.read_event_log(f"{work}/events")
        spans.attribute_event_log(tracer, log)
        metrics = layer_metrics(tracer, extra, log, capture, sampler)
    else:
        metrics = end_to_end_metrics(tracer)
    units = _units()
    result = {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    detail = {
        "stamp": stamp,
        "failed_frac": res.failed / res.attempted,
        "failed_frac_base": "report buckets + KG stages + graph calls + "
        "refresh batches + output checks",
        "failed_checks": res.failed_checks,
        "digests": res.digests,
        "info": res.info,
        "batch_walls": res.batch_walls,
        "error_lines": capture.total,
        "peak_rss_mb": sampler.peak / 2**20,
    }
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    tracer.dump(
        os.path.join(
            ROOT, ".perfbench_out",
            f"{args.workload}-seed{args.seed}-trace{args.trace}-{run_id}.json",
        ),
        {"detail": detail, "result": result},
    )
    return result, detail


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import ner_backend_spark  # the program under test, from this checkout
        from workloads import WORKLOADS
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    if not os.path.abspath(ner_backend_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: ner_backend_spark resolves outside {ROOT}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    # everything the session and its workers write stays in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    for var in ("SPARK_GRAFT_MASTER", "SPARK_CHECKPOINT_DIR", "SPARK_SHUFFLE_PARTITIONS"):
        os.environ.pop(var, None)
    tempfile.tempdir = os.path.join(work, "tmp")

    from spans import StderrCapture

    # a termination request unwinds through the finally blocks below, which
    # stop the JVM and its workers
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    capture = StderrCapture(work)
    sampler = RssSampler()
    sampler.start()
    result = None
    try:
        result, detail = run(args, work, capture, sampler)
    except Exception:  # noqa: BLE001 - report, then exit non-zero
        traceback.print_exc()
    finally:
        if sampler.is_alive():
            sampler.stop()
        capture.close()
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        return 1
    print("perfbench-detail " + json.dumps(detail), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
