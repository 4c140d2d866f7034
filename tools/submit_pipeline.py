"""spark-submit entry point for the full pipeline (north_rule deployment).

Packages travel via --py-files (the script has NO sys.path setup — the
package must come from the submitted zip), e.g.:

    cd /root/repo && zip -qr /tmp/ner_backend_spark.zip ner_backend_spark
    /opt/spark/bin/spark-submit --master 'local[8]' \
        --py-files /tmp/ner_backend_spark.zip \
        tools/submit_pipeline.py \
        --pages /tmp/spark_graft_scaling/pages_20000 \
        --out /tmp/pipeline_out --triples

On a real cluster the same command targets yarn/k8s masters; only --master
changes. Writes entities/object_groups/report_tags (+ triples) under --out
and prints one JSON summary line.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="parquet dir of pages(url, text, ...)")
    ap.add_argument("--out", required=True, help="output base path")
    ap.add_argument("--triples", action="store_true", help="also build the KG triples table")
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument(
        "--volatile", action="store_true",
        help="skip the checkpointed durable-write runners: run the same "
        "pages->entities->triples computation against a noop sink. The "
        "default (durable) mode is the production deploy — resumable, "
        "every stage committed; volatile mode isolates compute+shuffle "
        "throughput from sink-disk bandwidth (on the one-disk sandbox the "
        "durable mode's N->4N scaling measures the shared disk, not the "
        "engine).",
    )
    args = ap.parse_args()

    # Import AFTER spark-submit ships --py-files; proves the deploy path.
    from pyspark.sql import SparkSession

    from ner_backend_spark.spark.checkpoint import (
        CheckpointedReportRunner,
        throughput_metrics,
    )
    from ner_backend_spark.spark.checkpoint_kg import (
        CheckpointedKgRunner,
        kg_stage_metrics,
    )
    from ner_backend_spark.spark.tagger import ReportConfig

    from ner_backend_spark.spark.session import engine_conf, wait_for_executors

    # spark-submit owns --master; this entry carries the engine's session
    # knobs itself (a bare getOrCreate measured 3x ANTI-scaling on the KG
    # edges stage: the app started before all executors registered, so
    # parallelism-derived sizing and localCheckpoint placement saw a
    # 1-executor cluster — see engine_conf's docstring).
    builder = SparkSession.builder.appName("ner-backend-pipeline")
    for k, v in engine_conf().items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    cores = wait_for_executors(spark)

    t0 = time.monotonic()
    pages = spark.read.parquet(args.pages).select("url", "text")
    config = ReportConfig.make(
        model_type="presidio",
        custom_tags={"custom_token": r"a1b2c3"},
        groups={"has_email": "COUNT(EMAIL) > 0"},
    )

    if args.volatile:
        from ner_backend_spark.flagship import KG_MAX_BUCKET
        from ner_backend_spark.spark.kg import _materialize, build_triples
        from ner_backend_spark.spark.pipeline import run_report

        n_pages = pages.count()
        rep_t0 = time.monotonic()
        out = run_report(pages, config)
        # materialize ONCE (a lazy cut + the count forces it) so the
        # --triples block below reuses these rows instead of re-running
        # the whole NER pass inside the kg-timed window, which made
        # kg_seconds measure NER+KG (round-7 ADVICE)
        entities_df = _materialize(out.entities, eager=False)
        n_entities = entities_df.count()
        ner_seconds = round(time.monotonic() - rep_t0, 1)
        summary = {
            "cores": cores,
            "pages": n_pages,
            "entities": n_entities,
            "ner_seconds": ner_seconds,
            "report_metrics": {
                "docs_per_sec": round(n_pages / ner_seconds, 1),
                "n_failed_buckets": 0,
            },
        }
        if args.triples:
            alias_df = spark.createDataFrame(
                [("user0@example.com", "ENT_USER0"), ("a1b2c3", "ENT_TOKEN")],
                "surface string, canonical_id string",
            )
            kg_t0 = time.monotonic()
            entities = entities_df.select("url", "label", "text")
            triples = build_triples(
                entities, None, alias_df,
                threshold=0.5, max_bucket_size=KG_MAX_BUCKET,
            )
            summary["triples"] = triples.count()
            summary["kg_seconds"] = round(time.monotonic() - kg_t0, 1)
        summary["seconds"] = round(time.monotonic() - t0, 1)
        print("PIPELINE_SUMMARY " + json.dumps(summary))
        spark.stop()
        return
    # Bucket-resumable report stage: a killed job resumes here without
    # reprocessing completed url-hash buckets.
    report = CheckpointedReportRunner(
        spark,
        config,
        args.out,
        n_buckets=args.n_buckets,
        buckets_per_commit=max(1, args.n_buckets // 8),
    )
    report_res = report.run(pages)

    summary = {
        "cores": cores,
        "pages": spark.read.parquet(args.pages).count(),
        "entities": spark.read.parquet(f"{args.out}/entities").count(),
        "groups": spark.read.parquet(f"{args.out}/object_groups").count(),
        "report_buckets_processed": report_res["processed_buckets"],
        "report_metrics": throughput_metrics(spark, args.out),
    }
    if args.triples:
        entities = spark.read.parquet(f"{args.out}/entities").select(
            "url", "label", "text"
        )
        groups = spark.read.parquet(f"{args.out}/object_groups").select(
            "url", "group_name"
        )
        from ner_backend_spark.flagship import KG_MAX_BUCKET

        # Stage-resumable KG layer: mentions -> edges -> components ->
        # canonical -> triples, each committed + checkpointed. The deployed
        # job runs with the SAME semantic bucket cap the bench and entry
        # queries engage — uncapped, one template bucket serializes the
        # pair generation (measured: 48k pages -> 165M candidate pairs).
        kg_res = CheckpointedKgRunner(
            spark, args.out, max_bucket_size=KG_MAX_BUCKET
        ).run(entities, groups)
        summary["triples"] = spark.read.parquet(
            f"{args.out}/kg/triples"
        ).count()
        summary["kg_stages_run"] = kg_res["stages_run"]
        summary["kg_stages_skipped"] = kg_res["stages_skipped"]
        summary["kg_metrics"] = kg_stage_metrics(spark, args.out)
    summary["seconds"] = round(time.monotonic() - t0, 1)
    print("PIPELINE_SUMMARY " + json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
