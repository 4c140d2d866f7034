"""End-to-end report pipeline: pages -> entities/groups/tags/previews.

Spark-first equivalent of the reference worker's inference job
(internal/core/processor.go:174-406 + 688-787):

    pages(url, warc_ts, html, text, lang)
      -> extract_text      (byte-identity HTML->text, parser.go:98-122)
      -> tag_documents     (one Arrow-batched model pass, tagger.py)
      -> entities          (coalesced spans, schema.go:135-144)
      -> object_groups     (group-query membership, schema.go:129-133)
      -> report_tags       (per-label counts, schema.go:79-90)
      -> object_previews   (token/tag segments, schema.go:146-150)

The reference's RabbitMQ task fan-out and byte-budget shard planner are
replaced by Spark scheduling + AQE; its incremental `count = count + ?`
counters (processor.go:256-272, not idempotent) are replaced by recomputed
aggregates so partition-level retries/resume cannot double-count.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import sinks
from .tagger import ReportConfig, explode_entities, explode_groups, tag_documents


def extract_text(pages: DataFrame, validate: bool = False) -> DataFrame:
    """HTML -> text extraction: identity byte->string decode.

    The reference treats ``.html`` as plaintext passthrough
    (internal/storage/parser.go:36-47,98-122): extracted text is exactly the
    raw bytes decoded as UTF-8. JVM-side ``decode`` keeps this inside
    whole-stage codegen; no Python involved.
    """
    if validate and "text" in pages.columns:
        # compare the INCOMING text column (before it is overwritten) to
        # decode(html) — comparing after the overwrite would be tautological
        bad = pages.filter(
            ~F.col("text").eqNullSafe(F.decode(F.col("html"), "UTF-8"))
        )
        assert bad.isEmpty(), "text != decode(html) for some urls"
    return pages.withColumn("text", F.decode(F.col("html"), "UTF-8"))


def text_invariant_violations(pages: DataFrame) -> DataFrame:
    """Rows violating the per-row invariant text == decode(html, 'UTF-8')."""
    return pages.filter(
        ~F.col("text").eqNullSafe(F.decode(F.col("html"), "UTF-8"))
    ).select("url")


@dataclass
class ReportOutput:
    report_rows: DataFrame  # one row per document (cache/checkpoint unit)
    entities: DataFrame  # url, label, text, start, end, l_context, r_context
    object_groups: DataFrame  # url, group_name
    report_tags: DataFrame  # tag, count (model labels)
    custom_tag_counts: DataFrame  # tag, count (custom regex labels)
    previews: DataFrame | None  # url, tokens, tags
    token_counts: DataFrame  # url, total_tokens
    config: ReportConfig | None = None  # lets sinks re-derive from rows


def tag_counts(
    entities: DataFrame, config: ReportConfig
) -> tuple[DataFrame, DataFrame]:
    """(report_tags, custom_tag_counts): the per-label entity counts as
    (tag, count), split into the model labels and ``config``'s custom
    regex labels. The one definition of the ``report_tags`` table, for
    :func:`run_report` and the checkpointed runner's final rollup."""
    custom_labels = [tag for tag, _ in config.custom_tags]
    label_counts = entities.groupBy("label").agg(
        F.count(F.lit(1)).alias("count")
    )
    report_tags = label_counts.filter(
        ~F.col("label").isin(custom_labels) if custom_labels else F.lit(True)
    ).withColumnRenamed("label", "tag")
    custom_tag_counts = label_counts.filter(
        F.col("label").isin(custom_labels) if custom_labels else F.lit(False)
    ).withColumnRenamed("label", "tag")
    return report_tags, custom_tag_counts


def _derive_outputs(report_rows: DataFrame, config: ReportConfig) -> ReportOutput:
    """All output tables as relational projections of report_rows."""
    entities = explode_entities(report_rows)
    object_groups = explode_groups(report_rows)
    report_tags, custom_tag_counts = tag_counts(entities, config)

    previews = None
    if config.build_previews:
        previews = report_rows.select(
            "url",
            F.col("preview_tokens").alias("tokens"),
            F.col("preview_tags").alias("tags"),
        )

    token_counts = report_rows.select("url", "total_tokens")

    return ReportOutput(
        report_rows=report_rows,
        entities=entities,
        object_groups=object_groups,
        report_tags=report_tags,
        custom_tag_counts=custom_tag_counts,
        previews=previews,
        token_counts=token_counts,
        config=config,
    )


def run_report(pages: DataFrame, config: ReportConfig) -> ReportOutput:
    """Build every output of one scan job from a single model pass."""
    return _derive_outputs(tag_documents(pages, config), config)


def write_outputs(
    out: ReportOutput,
    base_path: str,
    n_buckets: int = 64,
    mode: str = "overwrite",
    sink: "sinks.TableSink | None" = None,
) -> None:
    """Materialize outputs under a url-hash bucket partition spec.

    The spec is ``bucket(n_buckets, url)`` — on the default
    :class:`sinks.ParquetSink` that lowers to a generated
    ``partition_id = pmod(xxhash64(url), n_buckets)`` directory column
    (what checkpoint.py prunes on for per-bucket resume); on
    :class:`sinks.IcebergSink` it lowers to the native ``bucket(n, url)``
    partition transform the north_star names. Either way all rows of a url
    co-locate in one partition.
    """
    sink = sink or sinks.ParquetSink(base_path)
    bucket_spec = (sinks.bucket(n_buckets, "url", alias="partition_id"),)
    if out.config is not None:
        # every output table is a projection of report_rows: materialize
        # the model pass ONCE, not once per sink write (5-6 redundant full
        # NER passes otherwise — days of inference at the 100 TB design
        # point; round-3 review finding). eager=True: with a checkpoint dir
        # configured (any real deployment) this is a reliable checkpoint, so
        # an executor loss during the six sink writes recomputes from
        # fault-tolerant storage instead of failing the report; without one
        # (local benches) it is an eager localCheckpoint, which truncates
        # lineage as its own job before the first write plans against it
        # (a LAZY checkpoint materialized mid-write floods the log with
        # non-existent-accumulator ERRORs — see near_duplicates_minhash).
        from .kg import _materialize

        out = _derive_outputs(
            _materialize(out.report_rows, eager=True), out.config
        )
    sink.write(out.entities, "entities", spec=bucket_spec, mode=mode)
    sink.write(out.object_groups, "object_groups", mode=mode)
    sink.write(out.report_tags, "report_tags", mode=mode)
    sink.write(out.custom_tag_counts, "custom_tag_counts", mode=mode)
    sink.write(out.token_counts, "token_counts", mode=mode)
    if out.previews is not None:
        sink.write(out.previews, "object_previews", mode=mode)
