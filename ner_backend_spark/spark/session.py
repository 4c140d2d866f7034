"""SparkSession construction with the engine's scale-oriented defaults.

Defaults chosen for the 100 TB design point and scaled down by parameter for
local testing:

* AQE on (runtime partition coalescing + skew-join splitting) — replaces the
  reference's greedy byte-budget shard planner
  (internal/storage/file_system_connector_utils.go:12-63).
* Arrow-batched Python UDFs with a bounded batch size — replaces the
  reference's 16-text / 2 MB gRPC batching
  (internal/core/python/model.go:176-215).
* maxPartitionBytes sized so a scan partition's text fits executor memory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
DEFAULT_ARROW_BATCH = 1024  # texts per Arrow record batch into pandas UDFs


def ensure_parallelism(df, min_partitions: int | None = None):
    """Repartition iff the plan has fewer partitions than the cluster has
    slots — the Spark analogue of the reference's byte-budget shard planner
    (internal/storage/file_system_connector_utils.go:12-63), which exists so
    a small listing still fans out across workers.

    At 100 TB the scan already yields thousands of splits and this is a
    no-op (no shuffle inserted); it only triggers for small inputs (e.g. one
    tiny parquet file -> 1 partition), where otherwise every Arrow UDF
    kernel downstream would run on a single core.
    """
    if df.isStreaming:
        # partitioning of a stream is governed by the source + shuffle conf;
        # .rdd is illegal here and micro-batches are already fanned out
        return df
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    # Cheap screen before the plan->RDD probe (the probe costs a driver-side
    # physical-plan conversion per call and defeats AQE stat reuse): with
    # filesMaxPartitionBytes=128MB and openCostInBytes=4MB a scan partition
    # bin-packs at most 32 files, so >= 32*target input files guarantees the
    # scan already fans out past `target` — skip the probe entirely. This is
    # the 100 TB fast path; tiny inputs fall through to the exact check.
    try:
        if len(df.inputFiles()) >= 32 * target:
            return df
    except Exception:
        pass  # plans without a file source (createDataFrame, range)
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def map_batches(df, kernel, schema):
    """``df.mapInPandas`` with ``kernel(pdf) -> pandas.DataFrame`` applied
    once per non-empty Arrow batch of ``df``, fanned out first by
    :func:`ensure_parallelism`: the one entry point of every Arrow kernel.
    Callers project ``df`` to the columns the kernel reads and keep their
    own per-batch state in the kernel's closure."""

    def run(batches):
        for pdf in batches:
            if len(pdf):
                yield kernel(pdf)

    return ensure_parallelism(df).mapInPandas(run, schema)


def engine_conf(shuffle_partitions: int | None = None) -> dict[str, str]:
    """The engine's session conf as a dict, for builders this module does
    not own — most importantly the ``spark-submit`` deployment entry
    (tools/submit_pipeline.py), which must NOT set a master (spark-submit
    owns it) but must still carry these knobs: a bare ``getOrCreate()``
    measured 3x ANTI-scaling on the KG edges stage at 4 workers because
    the app started before all executors registered, so
    ``ensure_parallelism`` sized frames to the early, smaller
    defaultParallelism and the localCheckpoint lineage cuts pinned their
    blocks to the first executor (SUBMIT_CLUSTER.json, round 6)."""
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    return {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(
            DEFAULT_ARROW_BATCH
        ),
        "spark.sql.files.maxPartitionBytes": "134217728",
        "spark.sql.session.timeZone": "UTC",
        "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
    }


def wait_for_executors(spark: SparkSession, timeout_s: float = 120.0) -> int:
    """Block until executor registration completes, so parallelism-derived
    decisions (ensure_parallelism, localCheckpoint placement) see the full
    cluster width. With ``SPARK_EXPECT_CORES`` set (deploy harnesses know
    their cluster size) the wait is DETERMINISTIC: block until
    defaultParallelism reaches it. Without it, fall back to a stability
    heuristic — defaultParallelism unchanged across 5 consecutive 1 s
    polls (2 polls measured insufficient: at 4 workers registration
    staggers over ~5-10 s and an early plateau pinned the KG edge
    localCheckpoints to two executors — KG 185 s vs 81 s at the same 16
    cores). No-op on local masters. Returns the core count seen."""
    import time

    sc = spark.sparkContext
    if (sc.master or "").startswith("local"):
        return sc.defaultParallelism
    expect = int(os.environ.get("SPARK_EXPECT_CORES", "0"))
    deadline = time.monotonic() + timeout_s
    prev = -1
    stable = 0
    while time.monotonic() < deadline:
        cur = sc.defaultParallelism
        if expect and cur >= expect:
            break
        stable = stable + 1 if cur == prev and cur > 0 else 0
        if not expect and stable >= 5:
            break
        prev = cur
        time.sleep(1)
    got = sc.defaultParallelism
    if expect and got < expect:
        # under-registered cluster: proceeding silently reproduces the
        # anti-scaling this wait exists to prevent (round-7 ADVICE) —
        # warn loudly so the caller/bench log attributes any bad scaling
        # number to registration, not the plan
        import warnings

        warnings.warn(
            f"wait_for_executors: SPARK_EXPECT_CORES={expect} but only "
            f"{got} cores registered after {timeout_s}s — proceeding "
            "with partial parallelism; scaling measurements taken now "
            "are invalid",
            RuntimeWarning,
            stacklevel=2,
        )
    return got


def get_spark(
    app_name: str = "ner-backend-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """A ``local[cores]`` session with the engine's conf; ``cores`` defaults
    to ``SPARK_GRAFT_CPUS``, else every core. Cluster deploys do not come
    through here: ``spark-submit`` owns the master, and the deploy entry
    (tools/submit_pipeline.py) builds its session from ``engine_conf``."""
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # shared engine knobs (AQE, Arrow batching, split sizing, checkpoint
    # cleanup — see engine_conf's docstring for why they live in a dict)
    for k, v in engine_conf(shuffle_partitions).items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Reliable checkpoint dir (HDFS/S3 path on a cluster): flips the eager
    # lineage cuts — every kg.fixpoint round of connected components,
    # k-core and k-truss — from localCheckpoint (executor-storage, not
    # fault-tolerant) to .checkpoint(); spark/kg.py _materialize is the
    # only place that choice is made.
    ckpt_dir = os.environ.get("SPARK_CHECKPOINT_DIR")
    if ckpt_dir and spark.sparkContext.getCheckpointDir() is None:
        spark.sparkContext.setCheckpointDir(ckpt_dir)
    return spark
