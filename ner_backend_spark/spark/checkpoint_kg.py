"""Stage-grained checkpointing for the KG-construction layer.

The report stage resumes per url-hash bucket (checkpoint.py) because its
work is embarrassingly url-partitioned. The KG layer is NOT url-partitioned —
connected components is a global fixpoint — so its resume granularity is the
STAGE: each stage's output is materialized to parquet and recorded in a
stage-checkpoint table with counters + lineage; a restarted run skips every
COMPLETED stage and recomputes only from the first missing one
(north_rule: "Every stage checkpoints per-partition watermarks with lineage
and counter metrics so a killed job resumes without reprocessing completed
partitions" — here the stage table IS the watermark, and each stage's
parquet is itself bucket-partitioned for downstream pruning).

Stage DAG (linear):

    mentions -> edges -> components -> canonical -> triples
"""

from __future__ import annotations

import json
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .checkpoint import (
    STATUS_COMPLETED,
    alias_fingerprint,
    append_rows,
    check_lineage,
    completed_rows,
    write_observed,
)
from .kg import (
    alias_candidates,
    canonical_map,
    connected_components,
    extract_mentions,
    mention_edges,
    triples_from_canonical,
)

KG_STAGES = ["mentions", "edges", "components", "canonical", "triples"]

# each stage table's columns in the order its stage writes them: a read
# with a declared schema plans without a schema-inference job
_STAGE_SCHEMAS = {
    "mentions": "label string, text string, norm string, mention_id long",
    "edges": "src long, dst long",
    "components": "id long, component long",
    "canonical": "label string, text string, canonical string",
}

KG_CHECKPOINT_SCHEMA = StructType(
    [
        StructField("stage", StringType(), False),
        StructField("status", StringType(), False),
        StructField("run_id", StringType(), False),
        StructField("start_ts", DoubleType(), False),
        StructField("end_ts", DoubleType(), False),
        StructField("n_rows", LongType(), False),
        StructField("lineage", StringType(), False),
    ]
)


def _completed_rows(spark: SparkSession, base_path: str):
    return completed_rows(
        spark, f"{base_path}/kg_checkpoints", KG_CHECKPOINT_SCHEMA
    )


def completed_stages(spark: SparkSession, base_path: str) -> set[str]:
    return {r["stage"] for r in _completed_rows(spark, base_path)}


class CheckpointedKgRunner:
    """entities (+groups) -> triples with per-stage commit + resume.

    ``fail_after_stages`` injects a crash for the kill/resume tests.
    """

    def __init__(
        self,
        spark: SparkSession,
        base_path: str,
        alias_df: DataFrame | None = None,
        threshold: float = 0.5,
        max_bucket_size: int | None = None,
    ):
        self.spark = spark
        self.base_path = base_path
        self.alias_df = alias_df
        self.threshold = threshold
        self.max_bucket_size = max_bucket_size

    def _path(self, stage: str) -> str:
        return f"{self.base_path}/kg/{stage}"

    def _read(self, stage: str) -> DataFrame:
        return self.spark.read.schema(_STAGE_SCHEMAS[stage]).parquet(
            self._path(stage)
        )

    def _commit(
        self, stage: str, df: DataFrame, run_id: str, t0: float, lineage: str
    ) -> None:
        n = write_observed(df, self._path(stage))["n"]
        append_rows(
            self.spark,
            f"{self.base_path}/kg_checkpoints",
            KG_CHECKPOINT_SCHEMA,
            [(stage, STATUS_COMPLETED, run_id, float(t0), time.time(),
              int(n), lineage)],
        )

    def _lineage_params(self) -> dict:
        return {
            "threshold": self.threshold,
            # has_alias stays beside alias_fp so state written before
            # alias_fp was recorded still refuses a dictionary added or
            # removed on resume
            "has_alias": self.alias_df is not None,
            "alias_fp": alias_fingerprint(self.alias_df),
            "max_bucket_size": self.max_bucket_size,
        }

    @staticmethod
    def _input_fingerprint(entities: DataFrame) -> str:
        """Order-invariant dataset fingerprint: row count + modular sum of
        row hashes. Recorded in the lineage so a resume with a DIFFERENT
        entities table is refused instead of silently joining new entities
        against stale on-disk mentions/components (the 'silent hybrid'
        hazard for callers that don't read entities back from the
        checkpointed table)."""
        row = entities.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(
                    F.pmod(
                        F.xxhash64("url", "label", "text"),
                        F.lit(1_000_000_007),
                    ).cast("decimal(38,0)")
                ),
                F.lit(0),
            ).alias("h"),
        ).collect()[0]
        return f"{row['n']}:{row['h']}"

    def run(
        self,
        entities: DataFrame,
        object_groups: DataFrame | None = None,
        fail_after_stages: int | None = None,
    ) -> dict:
        run_id = str(uuid.uuid4())
        prior = _completed_rows(self.spark, self.base_path)
        done = {r["stage"] for r in prior}
        # entities feeds the fingerprint, the mentions stage and the triples
        # stage — persist so a lazy upstream (the NER tagger) runs once
        # persist, not kg._materialize: the finally frees it, not a later GC
        entities = entities.persist()
        ran: list[str] = []
        try:
            # Resume safety: refuse to graft new-parameter stages onto
            # outputs computed under different parameters OR a different
            # input dataset — either would be a silent cross-run hybrid
            # presented as a clean run.
            params = self._lineage_params()
            params["input_fp"] = self._input_fingerprint(entities)
            check_lineage((r["lineage"] for r in prior), params, self.base_path)
            lineage = json.dumps({"run_id": run_id, **params})
            builders = {
                "mentions": lambda: extract_mentions(entities),
                "edges": lambda: mention_edges(
                    self._read("mentions"),
                    alias_candidates(self._read("mentions"), self.alias_df),
                    self.threshold,
                    self.max_bucket_size,
                ),
                "components": lambda: connected_components(self._read("edges")),
                "canonical": lambda: canonical_map(
                    self._read("mentions"),
                    self._read("components"),
                    alias_candidates(self._read("mentions"), self.alias_df),
                ),
                "triples": lambda: triples_from_canonical(
                    entities, self._read("canonical"), object_groups
                ),
            }
            for stage in KG_STAGES:
                if stage in done:
                    continue
                # t0 before the builder: a stage's time includes its reads
                t0 = time.time()
                self._commit(stage, builders[stage](), run_id, t0, lineage)
                ran.append(stage)
                if (
                    fail_after_stages is not None
                    and len(ran) >= fail_after_stages
                    and stage != KG_STAGES[-1]
                ):
                    raise RuntimeError(
                        f"injected failure after stages {ran} (run {run_id})"
                    )
        finally:
            entities.unpersist()
        return {"run_id": run_id, "stages_run": ran, "stages_skipped": sorted(done)}


def kg_stage_metrics(spark: SparkSession, base_path: str) -> dict:
    """Per-stage wall time + row counters from the stage-checkpoint table."""
    df = (
        spark.read.schema(KG_CHECKPOINT_SCHEMA)
        .parquet(f"{base_path}/kg_checkpoints")
        .filter(F.col("status") == STATUS_COMPLETED)
    )
    # deterministic latest-attempt-wins: pick the whole row with max end_ts
    # (F.last is partition-order-dependent; mixing min(start)/max(end)
    # across attempts would report the gap between two runs as a duration)
    latest = df.groupBy("stage").agg(
        F.max(F.struct("end_ts", "start_ts", "n_rows")).alias("w")
    )
    return {
        r["stage"]: {
            "seconds": round(r["w"]["end_ts"] - r["w"]["start_ts"], 3),
            "n_rows": r["w"]["n_rows"],
        }
        for r in latest.collect()
    }
