"""The commit/resume protocol of every checkpointed runner, and the
partition-grained report runner built on it.

Three runners resume a killed job without redoing finished work: the
report (this module, per url-hash bucket), the KG stages
(checkpoint_kg.py, per stage) and the incremental KG (streaming/
kg_update.py, per micro-batch). This module decides for all three how

- prior state is found: the report and KG stage runners probe the Hadoop
  FileSystem with :func:`path_exists` instead of catching a failed read,
  which Spark's ObservationManager listener re-plans and logs as an ERROR
  stack once any ``Observation`` has run in the session; the incremental
  KG is local-only and probes its directory with ``os`` calls;
- a resume is refused: :func:`check_lineage` compares every recorded
  lineage with the current parameters;
- counters are taken: :func:`write_observed` counts the rows a write
  commits on the write itself, with no re-read (the report's per-bucket
  counters stay one groupBy: an ``Observation`` gives only totals);
- a commit row lands: :func:`append_rows` appends it from an Arrow table.

Reference semantics being reproduced (SURVEY §2.10 M4/M6): the worker
restores from the `inference_tasks` status table on restart — already
COMPLETED shards are not reprocessed (cmd/local/main.go:75-106,
internal/database/utils.go:28-52). Here the "shard" is a deterministic url
hash bucket:

    partition_id = pmod(xxhash64(url), n_buckets)

A run writes each bucket's outputs to ``<base>/entities/partition_id=<p>``
and then appends a checkpoint row (COMPLETED, counters, lineage, timestamps).
A resumed run reads the checkpoint table, anti-joins completed buckets, and
processes only the rest. Writes are idempotent per bucket (dynamic partition
overwrite), so a job killed mid-bucket rewrites that bucket without
double-counting — this replaces the reference's non-idempotent
``count = count + ?`` counters (processor.go:264-266).

Aggregates (report_tags etc.) are recomputed from the materialized entities
table after all buckets complete, so they are exact regardless of how many
times any bucket was attempted.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .pipeline import run_report, tag_counts
from .tagger import ReportConfig

CHECKPOINT_SCHEMA = StructType(
    [
        StructField("partition_id", LongType(), False),
        StructField("status", StringType(), False),
        StructField("run_id", StringType(), False),
        StructField("start_ts", DoubleType(), False),
        StructField("end_ts", DoubleType(), False),
        StructField("n_docs", LongType(), False),
        StructField("n_entities", LongType(), False),
        StructField("n_tokens", LongType(), False),
        StructField("lineage", StringType(), False),
    ]
)

STATUS_COMPLETED = "COMPLETED"
STATUS_FAILED = "FAILED"

STOP_FLAG = "_STOP"


def _fs_and_path(path: str, spark: SparkSession | None = None):
    """Hadoop FileSystem + Path for ``path`` — works for file:/, hdfs:/,
    s3a:/ alike. Plain os.path here silently broke every object-store
    deployment (round-3 review finding: request_stop's docstring promised
    object-store visibility while writing a LOCAL file named 's3a:...').

    With no SparkSession in the process (an operator tool issuing an
    out-of-band stop), a LOCAL path falls back to os.path, but a remote
    scheme raises — writing the flag to a local file named 's3a:...' would
    silently never reach the running job.
    """
    import re as _re

    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        m = _re.match(r"^([A-Za-z][A-Za-z0-9+.-]*):", path)
        if m and m.group(1) not in ("file", "local"):
            raise RuntimeError(
                f"no active SparkSession to reach {m.group(1)}:// path "
                f"{path!r}; start one (or run the stop tool on a node that "
                "has the job's Hadoop configuration)"
            )
        return None, None  # local path: caller falls back to os.path
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def request_stop(base_path: str, spark: SparkSession | None = None) -> None:
    """Reference Q4 soft-stop (internal/api/api.go:553-624 StopReport): set
    a stop flag the worker consults between task commits
    (processor.go:187-190, 699-702). The flag is a marker file next to the
    checkpoint table, created through the Hadoop FileSystem API so a shared
    filesystem/object store makes it visible to every driver retry."""
    fs, hpath = _fs_and_path(f"{base_path}/{STOP_FLAG}", spark)
    if fs is None:
        os.makedirs(base_path, exist_ok=True)
        with open(os.path.join(base_path, STOP_FLAG), "w") as f:
            f.write("stop")
        return
    out = fs.create(hpath, True)
    out.write(bytearray(b"stop"))
    out.close()


def clear_stop(base_path: str, spark: SparkSession | None = None) -> None:
    fs, hpath = _fs_and_path(f"{base_path}/{STOP_FLAG}", spark)
    if fs is None:
        try:
            os.remove(os.path.join(base_path, STOP_FLAG))
        except FileNotFoundError:
            pass
        return
    fs.delete(hpath, False)


def stop_requested(base_path: str, spark: SparkSession | None = None) -> bool:
    return path_exists(f"{base_path}/{STOP_FLAG}", spark)


def path_exists(path: str, spark: SparkSession | None = None) -> bool:
    """Whether ``path`` exists: how every runner tells a fresh run from a
    resume. Only a missing path means "start from scratch" — a storage
    error raises instead of silently reprocessing everything and appending
    duplicate COMPLETED rows."""
    fs, hpath = _fs_and_path(path, spark)
    return os.path.exists(path) if fs is None else fs.exists(hpath)


def completed_rows(
    spark: SparkSession, path: str, schema: StructType
) -> list[Row]:
    """The COMPLETED rows of the checkpoint table at ``path``, none on a
    fresh run."""
    if not path_exists(path, spark):
        return []
    return (
        spark.read.schema(schema)
        .parquet(path)
        .filter(F.col("status") == STATUS_COMPLETED)
        .collect()
    )


# what the lineage keys mean, for the refusal message
_LINEAGE_NAMES = {
    "config_model": "report config",
    "config_fp": "report config",
    "n_buckets": "bucket count",
    "input_fp": "input dataset",
    "alias_fp": "alias dictionary",
}


def check_lineage(lineages: Iterable[str], params: dict, where: str) -> None:
    """Refuse to resume onto state written under other parameters.

    Skipping finished work computed under one set of parameters while
    computing the rest under another would graft two runs into one output
    with no error. Every recorded lineage that is a JSON object must agree
    with ``params`` on every key both have, else ``ValueError``; a key only
    one side has is ignored (a lineage written before the key existed stays
    resumable) and non-JSON lineage (tables older than lineage) is skipped.
    """
    for text in lineages:
        try:
            recorded = json.loads(text)
        except (TypeError, ValueError):
            continue
        if not isinstance(recorded, dict):
            continue
        for key, ours in params.items():
            if key in recorded and recorded[key] != ours:
                raise ValueError(
                    f"resume refused: {where} was written with a different "
                    f"{_LINEAGE_NAMES.get(key, key)} ({key}={recorded[key]!r}, "
                    f"this run has {ours!r}); use a new path, delete the old "
                    "outputs, or rerun with the original parameters"
                )


def alias_fingerprint(alias_df: DataFrame | None) -> str | None:
    """The lineage value ``alias_fp`` of a KG alias dictionary: md5 of its
    sorted rows, None without a dictionary. Both KG runners record it, so
    a resume with another dictionary is refused rather than committing
    one dictionary's virtual-node edges and canonicalizing with another's
    hits."""
    if alias_df is None:
        return None
    import hashlib

    rows = sorted(tuple(r) for r in alias_df.collect())
    return hashlib.md5(json.dumps(rows, sort_keys=True).encode()).hexdigest()


def write_observed(df: DataFrame, path: str, *metrics: Column) -> dict:
    """Overwrite ``path`` with ``df`` and return ``metrics`` (aggregate
    columns; default the row count ``n``) over the rows written. The
    metrics are an ``Observation`` on the write itself: one job, where a
    re-read count would be a second one."""
    obs = Observation()
    df.observe(obs, *(metrics or [F.count(F.lit(1)).alias("n")])).write.mode(
        "overwrite"
    ).parquet(path)
    return obs.get


def append_rows(
    spark: SparkSession, path: str, schema: StructType, rows: list[tuple]
) -> None:
    """Append ``rows`` (tuples in ``schema`` order) to the parquet table at
    ``path`` in one job. The rows reach the JVM as one Arrow table, not a
    pickled Python RDD, so the write starts no Python worker (an 8-row
    append measured 0.53-0.78 s that way and 0.24-0.27 s from Arrow,
    local[4] on a 4-vCPU host); the written columns, types and
    nullability are ``schema``'s either way."""
    import pyarrow as pa

    table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows])
    spark.createDataFrame(table, schema).write.mode("append").parquet(path)


def config_fingerprint(config: ReportConfig) -> str:
    """Deterministic digest of every semantic field of a ReportConfig —
    process-independent (no Python hash()), used to refuse cross-config
    resumes."""
    import hashlib

    payload = json.dumps(
        {
            "model_type": config.model_type,
            "model_params": list(config.model_params),
            "tags": sorted(config.tags),
            "custom_tags": list(config.custom_tags),
            "groups": list(config.groups),
            "build_previews": config.build_previews,
        },
        sort_keys=True,
    )
    return hashlib.blake2b(payload.encode(), digest_size=8).hexdigest()


def with_partition_id(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "partition_id", F.pmod(F.xxhash64("url"), F.lit(n_buckets))
    )


def completed_partitions(spark: SparkSession, base_path: str) -> set[int]:
    return {
        r["partition_id"]
        for r in completed_rows(
            spark, f"{base_path}/checkpoints", CHECKPOINT_SCHEMA
        )
    }


def read_checkpoints(spark: SparkSession, base_path: str) -> DataFrame:
    return spark.read.schema(CHECKPOINT_SCHEMA).parquet(
        f"{base_path}/checkpoints"
    )


class CheckpointedReportRunner:
    """Run a report over `pages` with per-bucket commit + resume.

    Buckets are processed in groups of ``buckets_per_commit`` (a commit
    barrier amortizes job overhead while bounding recomputation loss, like
    the reference's 10 GB shard target, processor.go:715-719). Each commit:

      1. filters pages to the bucket group (partition pruning on the hash),
      2. runs the single-pass tagger,
      3. writes entities under partition_id=... (idempotent overwrite),
      4. appends COMPLETED checkpoint rows with counters + lineage.

    Failure semantics mirror the reference's task table
    (processor.go:140-153, database/utils.go:28-52): a bucket group whose
    processing raises gets FAILED checkpoint rows (error recorded in the
    lineage column) and the run continues; FAILED buckets are retried on the
    next run. A ``_STOP`` marker file (request_stop) aborts cleanly between
    commits. ``fail_after_commits`` injects a full crash for kill/resume
    tests; ``fail_buckets`` injects per-bucket failures.
    """

    def __init__(
        self,
        spark: SparkSession,
        config: ReportConfig,
        base_path: str,
        n_buckets: int = 16,
        buckets_per_commit: int = 4,
        fail_buckets: set[int] | None = None,
    ):
        self.spark = spark
        self.config = config
        self.base_path = base_path
        self.n_buckets = n_buckets
        self.buckets_per_commit = buckets_per_commit
        # failure injection for the FAILED-status tests: any commit group
        # containing one of these buckets raises before writing
        self.fail_buckets = fail_buckets or set()

    def run(
        self, pages: DataFrame, fail_after_commits: int | None = None
    ) -> dict:
        run_id = str(uuid.uuid4())
        params = {
            "config_model": self.config.model_type,
            "config_fp": config_fingerprint(self.config),
            "n_buckets": self.n_buckets,
            "source": "pages",
        }
        # one read serves both the lineage check and the done set
        prior = completed_rows(
            self.spark, f"{self.base_path}/checkpoints", CHECKPOINT_SCHEMA
        )
        check_lineage((r["lineage"] for r in prior), params, self.base_path)
        done = {r["partition_id"] for r in prior}
        todo = [p for p in range(self.n_buckets) if p not in done]
        lineage = json.dumps({"run_id": run_id, **params})

        pages_p = with_partition_id(pages, self.n_buckets)

        commits = 0
        processed: list[int] = []
        failed: list[int] = []
        stopped = False
        for i in range(0, len(todo), self.buckets_per_commit):
            if stop_requested(self.base_path):
                # clean abort between commits: everything committed so far
                # stays COMPLETED; remaining buckets are simply not
                # attempted and a later run (after clear_stop) resumes them
                stopped = True
                break
            group = todo[i : i + self.buckets_per_commit]
            t0 = time.time()
            try:
                self._run_group(pages_p, group, run_id, t0, lineage)
            except Exception as exc:  # noqa: BLE001 - bucket-level isolation
                if fail_after_commits is not None:
                    raise  # injected crash: simulate a killed job, not a
                    # recoverable per-bucket failure
                # reference semantics: a failed task gets a FAILED status row
                # and its own counters slot (processor.go:140-153,
                # database/utils.go:28-52); the job continues with the next
                # shard and a resume retries FAILED buckets (they are not in
                # the COMPLETED set)
                failed.extend(group)
                t1 = time.time()
                err = f"{type(exc).__name__}: {exc}"[:500]
                rows = [
                    (int(p), STATUS_FAILED, run_id, float(t0), float(t1),
                     0, 0, 0, json.dumps({"error": err, "run_id": run_id}))
                    for p in group
                ]
                append_rows(
                    self.spark, f"{self.base_path}/checkpoints",
                    CHECKPOINT_SCHEMA, rows,
                )
                continue

            commits += 1
            processed.extend(group)
            if fail_after_commits is not None and commits >= fail_after_commits:
                raise RuntimeError(
                    f"injected failure after {commits} commits (run {run_id})"
                )

        # exact, idempotent aggregates recomputed from materialized entities
        self._finalize()
        return {
            "run_id": run_id,
            "processed_buckets": len(processed),
            "failed_buckets": failed,
            "skipped_buckets": sorted(done),
            "stopped": stopped,
        }

    def _run_group(
        self, pages_p: DataFrame, group: list[int], run_id: str,
        t0: float, lineage: str,
    ) -> None:
        subset = pages_p.filter(F.col("partition_id").isin(group))
        if self.fail_buckets and set(group) & self.fail_buckets:
            raise RuntimeError(
                f"poisoned bucket(s) {sorted(set(group) & self.fail_buckets)}"
            )
        out = run_report(subset.select("url", "text"), self.config)

        # one pass over the group: cache report_rows for the three sinks,
        # released in the finally so a failed write leaves no CacheManager
        # entry for the rest of the session
        # persist, not kg._materialize: the finally frees it, not a later GC
        rows = with_partition_id(out.report_rows, self.n_buckets).persist()
        try:
            tables = {
                "entities": rows.select(
                    "url", "partition_id", F.explode("entities").alias("e")
                ).select("url", "partition_id", "e.*"),
                "object_groups": rows.select(
                    "url", "partition_id", F.explode("groups").alias("group_name")
                ),
            }
            for table, df in tables.items():
                (
                    df.write.mode("overwrite")
                    .partitionBy("partition_id")
                    .option("partitionOverwriteMode", "dynamic")
                    .parquet(f"{self.base_path}/{table}")
                )
            stats = (
                rows.groupBy("partition_id")
                .agg(
                    F.count(F.lit(1)).alias("n_docs"),
                    F.sum(F.size("entities")).alias("n_entities"),
                    F.sum("total_tokens").alias("n_tokens"),
                )
                .collect()
            )
        finally:
            rows.unpersist()
        by_pid = {r["partition_id"]: r for r in stats}
        t1 = time.time()

        ckpt_rows = [
            (
                int(p),
                STATUS_COMPLETED,
                run_id,
                float(t0),
                float(t1),
                int(by_pid[p]["n_docs"]) if p in by_pid else 0,
                int(by_pid[p]["n_entities"]) if p in by_pid else 0,
                int(by_pid[p]["n_tokens"]) if p in by_pid else 0,
                lineage,
            )
            for p in group
        ]
        append_rows(
            self.spark, f"{self.base_path}/checkpoints", CHECKPOINT_SCHEMA,
            ckpt_rows,
        )

    def _finalize(self) -> None:
        ents_path = f"{self.base_path}/entities"
        if not path_exists(ents_path, self.spark):
            return
        report_tags = tag_counts(self.spark.read.parquet(ents_path), self.config)[0]
        report_tags.write.mode("overwrite").parquet(f"{self.base_path}/report_tags")


def task_rollup(spark: SparkSession, base_path: str) -> DataFrame:
    """Deterministic per-bucket status/counter rollup of the checkpoint
    table (the DataFrame face of A4-A8, driver-gate-comparable: timestamps
    are used only to ORDER attempts, never emitted).

    Reference semantics (internal/api/api.go:886-1011 GetReportMetrics +
    processor.go:140-153 task statuses): a bucket is COMPLETED if ANY
    attempt completed, FAILED only while no attempt has; counters come from
    the latest COMPLETED attempt (max end_ts, by max_by: F.last would be
    partition-order-dependent and could mix counters across attempts, and
    a FAILED retry's zero counters can never shadow a completed
    attempt's), zero for never-completed buckets. :func:`throughput_metrics`
    sums it.
    """
    ck = read_checkpoints(spark, base_path)
    attempts = ck.groupBy("partition_id").agg(
        F.count(F.lit(1)).alias("n_attempts"),
        F.when(
            F.array_contains(F.collect_set("status"), STATUS_COMPLETED),
            F.lit(STATUS_COMPLETED),
        )
        .otherwise(F.lit(STATUS_FAILED))
        .alias("status"),
    )
    latest_done = (
        ck.filter(F.col("status") == STATUS_COMPLETED)
        .groupBy("partition_id")
        .agg(
            F.max_by("n_docs", "end_ts").alias("n_docs"),
            F.max_by("n_entities", "end_ts").alias("n_entities"),
            F.max_by("n_tokens", "end_ts").alias("n_tokens"),
        )
    )
    return (
        attempts.join(latest_done, "partition_id", "left")
        .na.fill(0, ["n_docs", "n_entities", "n_tokens"])
        .select(
            "partition_id", "status", "n_attempts",
            "n_docs", "n_entities", "n_tokens",
        )
    )


def throughput_metrics(spark: SparkSession, base_path: str) -> dict:
    """Reference metric definitions (internal/api/api.go:886-1011):
    wall = MAX(end_ts) - MIN(start_ts) over COMPLETED checkpoints;
    tokens/docs/entities and the succeeded/failed bucket counts
    (processor.go:140-153) are :func:`task_rollup`'s, summed. With nothing
    completed (every bucket FAILED) the counters, the wall and the rates
    are zero."""
    span = (
        read_checkpoints(spark, base_path)
        .filter(F.col("status") == STATUS_COMPLETED)
        .agg(F.min("start_ts").alias("t0"), F.max("end_ts").alias("t1"))
        .collect()[0]
    )
    row = (
        task_rollup(spark, base_path)
        .agg(
            F.sum("n_docs").alias("docs"),
            F.sum("n_entities").alias("entities"),
            F.sum("n_tokens").alias("tokens"),
            F.count_if(F.col("status") == STATUS_COMPLETED).alias("succeeded"),
            F.count_if(F.col("status") == STATUS_FAILED).alias("failed"),
        )
        .collect()[0]
    )
    wall = 0.0 if span["t0"] is None else max(span["t1"] - span["t0"], 1e-9)
    return {
        "wall_seconds": wall,
        "n_docs": row["docs"],
        "n_entities": row["entities"],
        "n_tokens": row["tokens"],
        "docs_per_sec": row["docs"] / wall if wall else 0.0,
        "tokens_per_sec": row["tokens"] / wall if wall else 0.0,
        "n_succeeded_buckets": row["succeeded"],
        "n_failed_buckets": row["failed"],
    }
