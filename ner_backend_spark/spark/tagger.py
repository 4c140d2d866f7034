"""The text -> entities transform as an Arrow-batched kernel.

This is the engine's hot path: one pass over (url, text) producing, per
document, everything ``runInferenceOnObject`` produces
(internal/core/processor.go:565-686): coalesced entity spans, group
membership, token count, and (optionally) the preview token/tag segments.

Scale design:
* ONE model pass per document — groups/counts/preview derive from it without
  a second scan; downstream tables (entities, object_groups, report_tags,
  previews) are relational projections/explosions of this output.
* ``session.map_batches``, which fans a small input out to every core and
  hands the kernel Arrow batches (``spark.sql.execution.arrow.
  maxRecordsPerBatch``) — no per-row Python UDF calls; the per-batch Python
  loop iterates short span lists per document, mirroring the reference's
  16-text gRPC batches (internal/core/python/model.go:176-215).
* The compiled model/regex/group state is built once per executor worker and
  cached (the reference's download-once model cache,
  processor.go:412-436) — config travels as a small picklable dataclass, the
  moral equivalent of a broadcast variable for task-shipped closures.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from functools import lru_cache

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..core.inference import compile_custom_tags, run_inference_on_object
from ..core.models import load_model
from ..core.query import parse_query
from .session import map_batches

ENTITY_STRUCT = StructType(
    [
        StructField("label", StringType(), False),
        StructField("text", StringType(), True),
        StructField("start", LongType(), False),
        StructField("end", LongType(), False),
        StructField("l_context", StringType(), True),
        StructField("r_context", StringType(), True),
    ]
)

REPORT_ROW_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("total_tokens", LongType(), False),
        StructField("entities", ArrayType(ENTITY_STRUCT), False),
        StructField("groups", ArrayType(StringType()), False),
        StructField("preview_tokens", ArrayType(StringType()), True),
        StructField("preview_tags", ArrayType(StringType()), True),
    ]
)


@dataclass(frozen=True)
class ReportConfig:
    """A scan job: model + tag selection + custom regexes + group queries.

    Mirrors the reference's Report row (internal/database/schema.go:49-77).
    """

    model_type: str = "presidio"
    model_params: tuple = ()  # tuple(sorted(dict.items())) for hashability
    tags: frozenset = frozenset()
    custom_tags: tuple = ()  # tuple(sorted({tag: pattern}.items()))
    groups: tuple = ()  # tuple(sorted({name: query}.items()))
    build_previews: bool = False

    @staticmethod
    def make(
        model_type: str = "presidio",
        model_params: dict | None = None,
        tags: set[str] | None = None,
        custom_tags: dict[str, str] | None = None,
        groups: dict[str, str] | None = None,
        build_previews: bool = False,
    ) -> "ReportConfig":
        def freeze(d):
            return tuple(sorted((d or {}).items(), key=lambda kv: kv[0]))

        params = model_params or {}
        if tags is None:
            # Default tag selection = the model's full vocabulary, like the
            # reference's UI default; resolved lazily worker-side for
            # presidio, explicit otherwise.
            tags = set(params.get("patterns", {})) if model_type == "regex" else set()
        return ReportConfig(
            model_type=model_type,
            model_params=(("json", json.dumps(params, sort_keys=True)),),
            tags=frozenset(tags),
            custom_tags=freeze(custom_tags),
            groups=freeze(groups),
            build_previews=build_previews,
        )

    def params_dict(self) -> dict:
        return json.loads(dict(self.model_params).get("json", "{}"))


@lru_cache(maxsize=8)
def _compiled_state(config: ReportConfig):
    """Per-executor-worker compile cache (model + regexes + group filters)."""
    model = load_model(config.model_type, config.params_dict())
    tags = set(config.tags)
    if not tags and hasattr(model, "get_tags"):
        tags = set(model.get_tags())
    custom = compile_custom_tags(dict(config.custom_tags))
    group_filters = {name: parse_query(q) for name, q in config.groups}
    return model, tags, custom, group_filters


def _run_batch(pdf: pd.DataFrame, config: ReportConfig) -> pd.DataFrame:
    model, tags, custom, group_filters = _compiled_state(config)
    texts = [t if t is not None else "" for t in pdf["text"].values]
    # models exposing predict_batch (CnnCrfModel) decode the whole Arrow
    # batch in one padded-tensor Viterbi pass; output is bit-identical to
    # the per-doc path the oracle runs (pinned in test_crf_trained)
    pre: list | None = None
    if hasattr(model, "predict_batch"):
        pre = model.predict_batch([t.encode("utf-8") for t in texts])
    out = {
        "url": [],
        "total_tokens": [],
        "entities": [],
        "groups": [],
        "preview_tokens": [],
        "preview_tags": [],
    }
    for i, (url, text) in enumerate(zip(pdf["url"].values, texts)):
        res = run_inference_on_object(
            text,
            model,
            tags,
            custom,
            group_filters,
            build_previews=config.build_previews,
            precomputed_entities=pre[i] if pre is not None else None,
        )
        out["url"].append(url)
        out["total_tokens"].append(res.total_tokens)
        out["entities"].append([tuple(e) for e in res.entities])
        out["groups"].append(res.groups)
        out["preview_tokens"].append(
            res.preview_tokens if config.build_previews else None
        )
        out["preview_tags"].append(
            res.preview_tags if config.build_previews else None
        )
    return pd.DataFrame(out)


def tag_documents(
    pages: DataFrame,
    config: ReportConfig,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """pages(url, text, ...) -> one row per document (REPORT_ROW_SCHEMA).

    Only (url, text) are read — column pruning keeps the binary ``html``
    column out of the scan entirely. ``passthrough`` names extra input
    columns to carry through the kernel unchanged (e.g. the ``warc_ts``
    event time for windowed streaming aggregates): the batch loop preserves
    row order, so they are copied positionally.
    """
    fields = list(REPORT_ROW_SCHEMA.fields)
    for c in passthrough:
        fields.append(pages.schema[c])
    schema = StructType(fields)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        out = _run_batch(pdf, config)
        for c in passthrough:
            out[c] = pdf[c].values
        return out

    return map_batches(pages.select("url", "text", *passthrough), run, schema)


def explode_entities(report_rows: DataFrame) -> DataFrame:
    """The ``object_entities`` projection (schema.go:135-144)."""
    return report_rows.select(
        "url", F.explode("entities").alias("e")
    ).select("url", "e.*")


def explode_groups(report_rows: DataFrame) -> DataFrame:
    """The ``object_groups`` projection (schema.go:129-133)."""
    return report_rows.select(
        "url", F.explode("groups").alias("group_name")
    )
