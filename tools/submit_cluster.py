"""N-vs-4N executor scaling of the deploy command, `spark-submit --py-files`,
on a standalone cluster.

The north rule asks for throughput scaling efficiency >= 0.8 from N to 4N
executors. This harness starts a Spark standalone master on 127.0.0.1,
then N (=1) and 4N (=4) worker daemons, each hosting exactly one executor
of the same size, and at each level submits tools/submit_pipeline.py
(pages -> entities -> report -> triples) with the package shipped only in
the --py-files zip and the driver's cwd outside the repo.

Each level runs in two modes:

* volatile: the same computation into noop sinks, without group-membership
  triples (those need the committed report tables). It is the only mode
  whose ratio measures compute and shuffle rather than the one shared disk.
* durable: the production deploy, checkpointed and resumable, every stage
  committed. Its ratio on a one-disk host measures sink-disk bandwidth
  (each real cluster node brings its own disks); it records the per-stage
  ``kg_metrics`` table (seconds and rows) at each level.

Executors are sized from the host: ``os.cpu_count() // 4`` cores, so the 4N
level fills the box, and an eighth of physical RAM, capped at 8g, so the
4N level takes at most half of it. Pages are generated on first use under
/tmp/spark_graft_scaling. A master this run started is stopped at the end.

Usage: python tools/submit_cluster.py [--n-pages N] [--out FILE]
(defaults: 480000 pages, SUBMIT_CLUSTER.json in the repository root)
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

WORKER_LEVELS = [1, 4]
MODES = ("volatile", "durable")
REPS = 1
EXECUTOR_CORES = max(1, (os.cpu_count() or 1) // WORKER_LEVELS[-1])
EXECUTOR_MEM = "%dm" % min(
    8192,
    os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    // (2 * WORKER_LEVELS[-1]) // 2**20,
)
GEN_PARTITIONS = 128
ZIP = "/tmp/ner_backend_spark.zip"
MASTER_HOST = "127.0.0.1"
MASTER_PORT = 7077
MASTER_UI = 8081
BASE = "/tmp/spark_standalone"


def _spark_class() -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-class")


def _master_state() -> dict | None:
    try:
        with urllib.request.urlopen(
            f"http://{MASTER_HOST}:{MASTER_UI}/json/", timeout=2
        ) as r:
            return json.load(r)
    except Exception:
        return None


def _alive_workers() -> list[dict]:
    st = _master_state()
    if not st:
        return []
    return [w for w in st.get("workers", []) if w.get("state") == "ALIVE"]


def _daemon(args: list[str], log: str, env: dict | None = None):
    os.makedirs(f"{BASE}/logs", exist_ok=True)
    with open(f"{BASE}/logs/{log}.log", "w") as out:
        return subprocess.Popen(
            [_spark_class(), *args],
            stdout=out,
            stderr=subprocess.STDOUT,
            env=env,
            start_new_session=True,
        )


def _terminate(procs: list[subprocess.Popen]) -> None:
    for p in procs:
        p.terminate()
    for p in procs:
        try:
            p.wait(timeout=20)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()


def ensure_master() -> subprocess.Popen | None:
    """Start a standalone master unless one already answers; return the
    process this call started, or None."""
    if _master_state() is not None:
        return None
    proc = _daemon(
        [
            "org.apache.spark.deploy.master.Master",
            "--host", MASTER_HOST, "--port", str(MASTER_PORT),
            "--webui-port", str(MASTER_UI),
        ],
        "master",
    )
    for _ in range(60):
        if _master_state() is not None:
            return proc
        time.sleep(1)
    _terminate([proc])
    raise SystemExit("standalone master failed to start")


def start_workers(n: int) -> list[subprocess.Popen]:
    """Bring the ALIVE worker set to exactly ``n`` fresh daemons."""
    procs = [
        _daemon(
            [
                "org.apache.spark.deploy.worker.Worker",
                f"spark://{MASTER_HOST}:{MASTER_PORT}",
                "--host", MASTER_HOST,
                "--cores", str(EXECUTOR_CORES),
                "--memory", EXECUTOR_MEM,
                "--webui-port", str(8090 + i),
            ],
            f"worker-{i}",
            env={**os.environ, "SPARK_WORKER_DIR": f"{BASE}/work-{i}"},
        )
        for i in range(n)
    ]
    deadline = time.monotonic() + 90
    while time.monotonic() < deadline:
        if len(_alive_workers()) >= n:
            return procs
        time.sleep(1)
    stop_workers(procs)
    raise SystemExit(f"only {len(_alive_workers())}/{n} workers registered")


def stop_workers(procs: list[subprocess.Popen]) -> None:
    _terminate(procs)
    # wait until the master notices (DEAD workers don't take resources,
    # but a lingering ALIVE one would let the next level over-provision)
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline and _alive_workers():
        time.sleep(1)


def generate(n_pages: int) -> str:
    """The pages parquet for ``n_pages``, written on first use."""
    data_dir = f"/tmp/spark_graft_scaling/pages_{n_pages}_m1"
    if os.path.exists(os.path.join(data_dir, "_SUCCESS")):
        return data_dir
    from ner_backend_spark import fixtures
    from ner_backend_spark.spark.session import get_spark

    spark = get_spark("submit-cluster-gen", shuffle_partitions=GEN_PARTITIONS)
    spark.sparkContext.setLogLevel("ERROR")
    fixtures.pages_df_distributed(
        spark, n_pages, partitions=GEN_PARTITIONS
    ).write.mode("overwrite").parquet(data_dir)
    spark.stop()
    return data_dir


def build_zip() -> None:
    if os.path.exists(ZIP):
        os.unlink(ZIP)
    subprocess.run(
        ["zip", "-qr", ZIP, "ner_backend_spark"], cwd=REPO, check=True
    )


def run_level(pages_dir: str, n_workers: int, volatile: bool) -> dict:
    procs = start_workers(n_workers)
    try:
        reps = [_run_once(pages_dir, n_workers, volatile) for _ in range(REPS)]
    finally:
        stop_workers(procs)
    best = min(reps, key=lambda r: r["pipeline_seconds"])
    best["pipeline_seconds_per_rep"] = [r["pipeline_seconds"] for r in reps]
    return best


def _run_once(pages_dir: str, n_workers: int, volatile: bool) -> dict:
    out_dir = f"/tmp/submit_cluster_out_{n_workers}w"
    subprocess.run(["rm", "-rf", out_dir], check=True)
    t0 = time.monotonic()
    proc = subprocess.run(
        [
            "/opt/spark/bin/spark-submit",
            "--master", f"spark://{MASTER_HOST}:{MASTER_PORT}",
            "--conf", f"spark.executor.cores={EXECUTOR_CORES}",
            "--conf", f"spark.executor.memory={EXECUTOR_MEM}",
            "--py-files", ZIP,
            os.path.join(REPO, "tools", "submit_pipeline.py"),
            "--pages", pages_dir,
            "--out", out_dir,
            "--triples",
        ] + (["--volatile"] if volatile else []),
        capture_output=True, text=True, cwd="/tmp", timeout=3600,
        env={**os.environ, "SPARK_SHUFFLE_PARTITIONS": "128",
             "SPARK_EXPECT_CORES": str(n_workers * EXECUTOR_CORES)},
    )
    wall = time.monotonic() - t0
    lines = [
        ln for ln in proc.stdout.splitlines()
        if ln.startswith("PIPELINE_SUMMARY ")
    ]
    if not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise SystemExit(f"submit at {n_workers}w failed")
    summary = json.loads(lines[-1][len("PIPELINE_SUMMARY "):])
    return {
        "n_workers": n_workers,
        "cores": n_workers * EXECUTOR_CORES,
        "submit_wall_seconds": round(wall, 1),
        "pipeline_seconds": summary["seconds"],
        "pages": summary["pages"],
        "entities": summary["entities"],
        "triples": summary["triples"],
        "docs_per_sec": round(
            summary["pages"] / summary["seconds"], 1
        ),
        "report_docs_per_sec": round(
            summary["report_metrics"]["docs_per_sec"], 1
        ),
        "kg_metrics": summary.get("kg_metrics"),
        "ner_seconds": summary.get("ner_seconds"),
        "kg_seconds": summary.get("kg_seconds"),
    }


def _mode_report(pages_dir: str, volatile: bool) -> dict:
    levels = [run_level(pages_dir, n, volatile) for n in WORKER_LEVELS]
    lo, hi = levels[0], levels[-1]
    ratio = hi["cores"] / lo["cores"]
    eff = (hi["docs_per_sec"] / lo["docs_per_sec"]) / ratio
    out = {
        "scaling_efficiency": round(eff, 3),
        "levels": levels,
        "core_ratio": ratio,
    }
    if volatile and all(l.get("ner_seconds") for l in (lo, hi)):
        out["ner_scaling_efficiency"] = round(
            (lo["ner_seconds"] / hi["ner_seconds"]) / ratio, 3
        )
    if volatile and all(l.get("kg_seconds") for l in (lo, hi)):
        out["kg_scaling_efficiency"] = round(
            (lo["kg_seconds"] / hi["kg_seconds"]) / ratio, 3
        )
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-pages", type=int, default=480_000)
    ap.add_argument("--out", default=os.path.join(REPO, "SUBMIT_CLUSTER.json"))
    args = ap.parse_args()

    t0 = time.monotonic()
    load_before = os.getloadavg()
    pages_dir = generate(args.n_pages)
    build_zip()
    master = ensure_master()
    try:
        modes = {m: _mode_report(pages_dir, m == "volatile") for m in MODES}
    finally:
        if master is not None:
            _terminate([master])
    nproc = os.cpu_count()
    report = {
        "metric": "spark_submit_pyfiles_NtoXN_scaling",
        "unit": "fraction",
        "value": modes["volatile"]["scaling_efficiency"],
        **modes,
        "deploy": "spark-submit --py-files (package from zip only; driver "
        "cwd outside the repo)",
        "topology": "standalone master + N one-executor worker JVMs",
        "job": "full pipeline: pages -> entities (-> checkpointed report) "
        "-> KG triples (submit_pipeline.py)",
        "n_pages": args.n_pages,
        "pages_dir": pages_dir,
        "executor_cores": EXECUTOR_CORES,
        "executor_mem": EXECUTOR_MEM,
        "nproc": nproc,
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
        "commit": subprocess.run(
            ["git", "describe", "--always", "--dirty"],
            cwd=REPO, capture_output=True, text=True,
        ).stdout.strip(),
        "runtime_seconds": round(time.monotonic() - t0, 1),
        "comparability": f"the 4N level's executors take "
        f"{WORKER_LEVELS[-1] * EXECUTOR_CORES} of the host's {nproc} cores, "
        "and the driver, master and worker daemons share the host with "
        "them; compare this efficiency only with runs on a host of the "
        "same size",
    }
    print(json.dumps(report))
    with open(args.out, "w") as f:
        json.dump(report, f, indent=2)


if __name__ == "__main__":
    main()
