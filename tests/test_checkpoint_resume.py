"""Kill/resume semantics of the partition-grained checkpoint runner.

Reference behavior being reproduced: resume-from-checkpoint re-enqueues only
unfinished shards (cmd/local/main.go:75-106); counters stay exact because
aggregates are recomputed, not incremented (vs processor.go:264-266)."""

import pytest

from ner_backend_spark import fixtures
from ner_backend_spark.spark.checkpoint import (
    CheckpointedReportRunner,
    completed_partitions,
    read_checkpoints,
    throughput_metrics,
)
from ner_backend_spark.spark.pipeline import run_report
from ner_backend_spark.spark.tagger import ReportConfig

CONFIG = ReportConfig.make(
    model_type="regex",
    model_params={"patterns": {"phone": r"\d{3}-\d{3}-\d{4}", "email": r"\w+@\w+\.\w+"}},
    custom_tags={"special_token": r"(\w\d){3}"},
    groups={"has_phone": "COUNT(phone) > 0"},
)


@pytest.fixture()
def pages(spark):
    return fixtures.pages_df(spark, n=120).select("url", "text").cache()


def _expected(spark, pages):
    out = run_report(pages, CONFIG)
    ents = {tuple(r) for r in out.entities.collect()}
    groups = {tuple(r) for r in out.object_groups.collect()}
    return ents, groups


def test_kill_and_resume_no_reprocessing(spark, pages, tmp_path):
    base = str(tmp_path / "report")
    runner = CheckpointedReportRunner(
        spark, CONFIG, base, n_buckets=8, buckets_per_commit=2
    )

    with pytest.raises(RuntimeError, match="injected failure"):
        runner.run(pages, fail_after_commits=2)

    done_after_crash = completed_partitions(spark, base)
    assert len(done_after_crash) == 4  # 2 commits x 2 buckets

    # resume: must process exactly the remaining buckets
    result = CheckpointedReportRunner(
        spark, CONFIG, base, n_buckets=8, buckets_per_commit=2
    ).run(pages)
    assert result["processed_buckets"] == 4

    assert completed_partitions(spark, base) == set(range(8))

    # outputs equal a single-shot run (exactness across the crash)
    want_ents, want_groups = _expected(spark, pages)
    got_ents = {
        tuple(r)
        for r in spark.read.parquet(f"{base}/entities")
        .select("url", "label", "text", "start", "end", "l_context", "r_context")
        .collect()
    }
    # single-shot entities lack partition_id; compare the common projection
    want_proj = {e for e in want_ents}
    assert got_ents == want_proj

    got_groups = {
        tuple(r)
        for r in spark.read.parquet(f"{base}/object_groups")
        .select("url", "group_name")
        .collect()
    }
    assert got_groups == want_groups

    # counters exact (recomputed, not incremented)
    tags = {
        r["tag"]: r["count"]
        for r in spark.read.parquet(f"{base}/report_tags").collect()
    }
    from collections import Counter

    want_tags = Counter(
        e[1] for e in want_ents if e[1] not in {"special_token"}
    )
    assert tags == dict(want_tags)


def test_rerun_is_noop(spark, pages, tmp_path):
    base = str(tmp_path / "report")
    runner = CheckpointedReportRunner(spark, CONFIG, base, n_buckets=4)
    runner.run(pages)
    result = CheckpointedReportRunner(spark, CONFIG, base, n_buckets=4).run(pages)
    assert result["processed_buckets"] == 0


def test_checkpoint_lineage_and_metrics(spark, pages, tmp_path):
    base = str(tmp_path / "report")
    CheckpointedReportRunner(spark, CONFIG, base, n_buckets=4).run(pages)
    ckpts = read_checkpoints(spark, base)
    rows = ckpts.collect()
    assert {r["status"] for r in rows} == {"COMPLETED"}
    assert all(r["lineage"] for r in rows)
    assert sum(r["n_docs"] for r in rows) == 120

    m = throughput_metrics(spark, base)
    assert m["n_docs"] == 120
    assert m["docs_per_sec"] > 0
    assert m["n_entities"] >= 21


# ---------------------------------------------------------------------------
# stage-grained KG resume


def _kg_entities(spark):
    from pyspark.sql import functions as F

    from ner_backend_spark.spark.native import regex_entities

    pages = fixtures.pages_df(spark, n=120)
    pats = {"WORD": r"\b[a-z]{5,}\b", "EMAIL": r"\S+@\S+\.\S+"}
    return regex_entities(pages, "url", "text", pats).select(
        F.col("url").cast("string").alias("url"), "label", "text"
    )


def test_kg_kill_and_resume_skips_completed_stages(spark, tmp_path):
    import os

    from ner_backend_spark.spark.checkpoint_kg import (
        CheckpointedKgRunner,
        completed_stages,
        kg_stage_metrics,
    )

    base = str(tmp_path / "kgrun")
    ents = _kg_entities(spark).localCheckpoint()
    alias_df = spark.createDataFrame(
        [("about", "ENT_ABOUT")], "surface string, canonical_id string"
    )

    runner = CheckpointedKgRunner(spark, base, alias_df=alias_df)
    with pytest.raises(RuntimeError, match="injected failure"):
        runner.run(ents, fail_after_stages=2)
    assert completed_stages(spark, base) == {"mentions", "edges"}
    mentions_mtime = os.path.getmtime(f"{base}/kg/mentions/_SUCCESS")

    # resume: completes the rest without rewriting finished stages
    res = CheckpointedKgRunner(spark, base, alias_df=alias_df).run(ents)
    assert res["stages_run"] == ["components", "canonical", "triples"]
    assert res["stages_skipped"] == ["edges", "mentions"]
    assert os.path.getmtime(f"{base}/kg/mentions/_SUCCESS") == mentions_mtime

    triples = spark.read.parquet(f"{base}/kg/triples")
    assert triples.count() > 0
    assert {r["pred"] for r in triples.select("pred").distinct().collect()} == {
        "HAS_WORD", "HAS_EMAIL"
    }
    metrics = kg_stage_metrics(spark, base)
    assert set(metrics) == {"mentions", "edges", "components", "canonical", "triples"}
    assert all(m["n_rows"] > 0 for m in metrics.values())
    # counted on the write, yet exactly what each stage committed
    for stage, m in metrics.items():
        assert m["n_rows"] == spark.read.parquet(f"{base}/kg/{stage}").count()


def test_kg_failed_run_unpersists_entities(spark, tmp_path):
    """A run that fails mid-way still releases the entities it persisted,
    so the caller's frame does not stay cached for the rest of the
    session."""
    from ner_backend_spark.spark.checkpoint_kg import CheckpointedKgRunner

    ents = _kg_entities(spark).localCheckpoint()
    runner = CheckpointedKgRunner(spark, str(tmp_path / "kgfail"))
    with pytest.raises(RuntimeError, match="injected failure"):
        runner.run(ents, fail_after_stages=2)
    assert ents.is_cached is False
    assert not ents.storageLevel.useMemory


def test_failed_commit_unpersists_report_rows(spark, tmp_path, monkeypatch):
    """A commit whose entities write raises records FAILED rows for its
    buckets and still releases the report rows it persisted."""
    from pyspark.sql.readwriter import DataFrameWriter

    parquet = DataFrameWriter.parquet

    def failing_parquet(self, path, *args, **kwargs):
        if path.endswith("/entities"):
            raise RuntimeError("injected write failure")
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing_parquet)
    cache = spark._jsparkSession.sharedState().cacheManager()
    cached = cache.numCachedEntries()
    base = str(tmp_path / "report")
    res = CheckpointedReportRunner(
        spark, CONFIG, base, n_buckets=4, buckets_per_commit=2
    ).run(fixtures.pages_df(spark, n=40).select("url", "text"))
    assert res["failed_buckets"] == [0, 1, 2, 3]
    statuses = {
        r["partition_id"]: r["status"]
        for r in read_checkpoints(spark, base).collect()
    }
    assert statuses == {p: "FAILED" for p in range(4)}
    assert cache.numCachedEntries() == cached


def test_fresh_runs_log_no_errors(spark, pages, tmp_path, log_errors):
    """A fresh run finds no prior state without logging an ERROR. Once an
    Observation has run in the session (any fixpoint does), Spark's
    ObservationManager listener re-plans every failed query and logs its
    exception, so a fresh run must not be detected by a failed read."""
    from ner_backend_spark.spark import kg
    from ner_backend_spark.spark.checkpoint_kg import CheckpointedKgRunner

    kg.connected_components(
        spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    ).collect()

    with log_errors() as writer:
        CheckpointedReportRunner(
            spark, CONFIG, str(tmp_path / "report"), n_buckets=2,
            buckets_per_commit=2,
        ).run(pages)
        CheckpointedKgRunner(spark, str(tmp_path / "kg")).run(
            _kg_entities(spark)
        )
    assert writer.toString() == ""


def test_state_reads_launch_no_jobs(spark, tmp_path):
    # every stored table is read with its declared schema: building the
    # DataFrame lists the files but starts no schema-inference job
    from ner_backend_spark.spark.checkpoint_kg import CheckpointedKgRunner
    from ner_backend_spark.streaming.kg_update import IncrementalKg

    ents = _kg_entities(spark)
    runner = CheckpointedKgRunner(spark, str(tmp_path / "kg"))
    runner.run(ents)
    inc = IncrementalKg(spark, str(tmp_path / "inc"))
    inc.process_batch(ents, 0)

    sc = spark.sparkContext
    spark._jsc.sc().listenerBus().waitUntilEmpty()
    sc.setJobGroup("state-reads", "state-reads")
    try:
        reads = {
            f"{tmp_path}/inc/mentions": inc.mentions(),
            f"{tmp_path}/inc/assign_v0": inc.assignment(),
            **{
                runner._path(stage): runner._read(stage)
                for stage in ("mentions", "edges", "components", "canonical")
            },
        }
        empty = inc.mentions(exclude_batch=0)
        spark._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = sc.statusTracker().getJobIdsForGroup("state-reads")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(jobs) == []
    # the declared schemas read what schema inference reads, in its order
    for path, df in reads.items():
        inferred = spark.read.parquet(path).drop("batch")
        assert df.columns == inferred.columns, path
        assert sorted(df.collect()) == sorted(inferred.collect()), path
    assert empty.count() == 0


def test_kg_checkpointed_matches_direct_build(spark, tmp_path):
    from ner_backend_spark.spark.checkpoint_kg import CheckpointedKgRunner
    from ner_backend_spark.spark.kg import build_triples

    base = str(tmp_path / "kgsame")
    ents = _kg_entities(spark).localCheckpoint()
    alias_df = spark.createDataFrame(
        [("about", "ENT_ABOUT")], "surface string, canonical_id string"
    )
    CheckpointedKgRunner(spark, base, alias_df=alias_df).run(ents)
    got = {
        (r["subj"], r["pred"], r["obj"])
        for r in spark.read.parquet(f"{base}/kg/triples").collect()
    }
    want = {
        (r["subj"], r["pred"], r["obj"])
        for r in build_triples(ents, None, alias_df).collect()
    }
    assert got == want


def test_kg_resume_rejects_parameter_mismatch(spark, tmp_path):
    from ner_backend_spark.spark.checkpoint_kg import CheckpointedKgRunner

    base = str(tmp_path / "kgparams")
    ents = _kg_entities(spark).localCheckpoint()
    runner = CheckpointedKgRunner(spark, base, threshold=0.5)
    with pytest.raises(RuntimeError, match="injected failure"):
        runner.run(ents, fail_after_stages=1)
    # resuming with a different threshold must refuse, not silently hybridize
    with pytest.raises(ValueError, match="was written with"):
        CheckpointedKgRunner(spark, base, threshold=0.9).run(ents)
    # matching parameters resume fine
    res = CheckpointedKgRunner(spark, base, threshold=0.5).run(ents)
    assert res["stages_skipped"] == ["mentions"]


def test_kg_resume_rejects_alias_dictionary_change(spark, tmp_path):
    """The edges stage commits one dictionary's virtual-node edges and the
    canonical stage reads another's hits unless a resume pins the
    dictionary itself, not only whether there is one."""
    from ner_backend_spark.spark.checkpoint_kg import CheckpointedKgRunner

    schema = "surface string, canonical_id string"
    dict_a = spark.createDataFrame([("about", "ENT_ABOUT")], schema)
    dict_b = spark.createDataFrame([("about", "ENT_OTHER")], schema)
    base = str(tmp_path / "kgalias")
    ents = _kg_entities(spark).localCheckpoint()
    with pytest.raises(RuntimeError, match="injected failure"):
        CheckpointedKgRunner(spark, base, alias_df=dict_a).run(
            ents, fail_after_stages=2
        )
    with pytest.raises(ValueError, match="alias dictionary"):
        CheckpointedKgRunner(spark, base, alias_df=dict_b).run(ents)
    res = CheckpointedKgRunner(spark, base, alias_df=dict_a).run(ents)
    assert res["stages_skipped"] == ["edges", "mentions"]


def test_throughput_metrics_nothing_completed(spark, tmp_path):
    """Every bucket FAILED (as CheckpointedReportRunner with every bucket
    in fail_buckets leaves it): zero counters and rates, not a TypeError
    on the missing wall clock."""
    import time

    from ner_backend_spark.spark.checkpoint import CHECKPOINT_SCHEMA

    base = str(tmp_path / "report")
    now = time.time()
    rows = [
        (p, "FAILED", "run-a", now, now + 1.0, 0, 0, 0, '{"error": "x"}')
        for p in range(3)
    ]
    spark.createDataFrame(rows, CHECKPOINT_SCHEMA).coalesce(1).write.parquet(
        f"{base}/checkpoints"
    )
    assert throughput_metrics(spark, base) == {
        "wall_seconds": 0.0,
        "n_docs": 0,
        "n_entities": 0,
        "n_tokens": 0,
        "docs_per_sec": 0.0,
        "tokens_per_sec": 0.0,
        "n_succeeded_buckets": 0,
        "n_failed_buckets": 3,
    }


def test_throughput_metrics_latest_attempt_wins(spark, tmp_path):
    """Two COMPLETED attempts for one partition with different counters:
    every counter must come from the max-end_ts attempt, never a mix
    (F.last was partition-order-dependent; fixed with max_by)."""
    import time

    from ner_backend_spark.spark.checkpoint import CHECKPOINT_SCHEMA

    base = str(tmp_path / "report")
    now = time.time()
    rows = [
        # partition 0: attempt 1 then attempt 2 (later end_ts, new counters)
        (0, "COMPLETED", "run-a", now, now + 10.0, 100, 5, 1000, "l1"),
        (0, "COMPLETED", "run-b", now + 20.0, now + 30.0, 120, 7, 1200, "l2"),
        # partition 1: single attempt
        (1, "COMPLETED", "run-a", now, now + 5.0, 10, 1, 100, "l1"),
    ]
    spark.createDataFrame(rows, CHECKPOINT_SCHEMA).coalesce(1).write.parquet(
        f"{base}/checkpoints"
    )
    m = throughput_metrics(spark, base)
    assert m["n_docs"] == 120 + 10
    assert m["n_entities"] == 7 + 1
    assert m["n_tokens"] == 1200 + 100
    assert m["wall_seconds"] == pytest.approx(30.0)
    assert m["n_succeeded_buckets"] == 2


def test_resume_rejects_config_mismatch(spark, pages, tmp_path):
    """Round-3 review: resuming onto checkpoints written under a different
    config must refuse (the KG runner already did; the report runner
    silently grafted two configs' outputs into one table)."""
    base = str(tmp_path / "report")
    CheckpointedReportRunner(spark, CONFIG, base, n_buckets=4).run(pages)
    other = ReportConfig.make(
        model_type="regex", model_params={"patterns": {"x": r"zz"}}
    )
    with pytest.raises(ValueError, match="different report config"):
        CheckpointedReportRunner(spark, other, base, n_buckets=4).run(pages)
    with pytest.raises(ValueError, match="bucket count"):
        CheckpointedReportRunner(spark, CONFIG, base, n_buckets=8).run(pages)
    # same config + same buckets still resumes cleanly
    res = CheckpointedReportRunner(spark, CONFIG, base, n_buckets=4).run(pages)
    assert res["processed_buckets"] == 0
