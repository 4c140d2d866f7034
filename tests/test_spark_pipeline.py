"""End-to-end Spark pipeline tests against the reference's integration goldens.

Ports internal/integration_tests/inference_test.go:150-226 (21 files ->
21 entities, two groups of 10) and the byte-identity extraction invariant
(internal/storage/parser.go:98-122), plus an oracle comparison: the Spark
pipeline must emit exactly what the pure-Python reference semantics emit.
"""

import pyspark.sql.functions as F
import pytest

from ner_backend_spark import fixtures
from ner_backend_spark.core.inference import (
    compile_custom_tags,
    run_inference_on_object,
)
from ner_backend_spark.core.models import load_model
from ner_backend_spark.core.query import parse_query
from ner_backend_spark.spark.pipeline import (
    extract_text,
    run_report,
    text_invariant_violations,
)
from ner_backend_spark.spark.tagger import ReportConfig


@pytest.fixture(scope="module")
def pages(spark):
    return fixtures.pages_df(spark, n=120).cache()


def test_extraction_byte_identity(spark, pages):
    # text == decode(html) for every url, and re-extraction reproduces it
    assert text_invariant_violations(pages).isEmpty()
    re_extracted = extract_text(pages.drop("text"))
    assert text_invariant_violations(re_extracted).isEmpty()


INTEGRATION_CONFIG = ReportConfig.make(
    model_type="regex",
    # internal/integration_tests/utils.go:126
    model_params={
        "patterns": {"phone": r"\d{3}-\d{3}-\d{4}", "email": r"\w+@email\.com"}
    },
    custom_tags={"special_token": r"(\w\d){3}"},
    groups={
        "phone_group": "COUNT(phone) > 0",
        "email_group": "COUNT(email) > 0",
    },
)


def test_integration_workflow_golden(spark):
    """21 files -> 21 entities; each group matches exactly 10 objects
    (inference_test.go:209-225)."""
    pages = fixtures.integration_pages_df(spark)
    out = run_report(pages, INTEGRATION_CONFIG)

    entities = out.entities.collect()
    assert len(entities) == 21

    groups = out.object_groups.groupBy("group_name").count().collect()
    counts = {r["group_name"]: r["count"] for r in groups}
    assert counts == {"phone_group": 10, "email_group": 10}

    tags = {r["tag"]: r["count"] for r in out.report_tags.collect()}
    assert tags == {"phone": 10, "email": 10}
    custom = {r["tag"]: r["count"] for r in out.custom_tag_counts.collect()}
    assert custom == {"special_token": 1}


def test_spark_matches_python_oracle_presidio(spark, pages):
    """Every (url,label,text,start,end,l_context,r_context) from the Spark
    pipeline equals the pure-Python oracle applied per document."""
    config = ReportConfig.make(
        model_type="presidio",
        custom_tags={"special_token": r"(\w\d){3}"},
        groups={"has_pii": 'COUNT(EMAIL) > 0 OR COUNT(SSN) > 0'},
    )
    out = run_report(pages.select("url", "text"), config)
    spark_entities = {
        tuple(r) for r in out.entities.collect()
    }
    spark_groups = {tuple(r) for r in out.object_groups.collect()}

    model = load_model("presidio")
    tags = set(model.get_tags())
    custom = compile_custom_tags(dict(config.custom_tags))
    group_filters = {name: parse_query(q) for name, q in config.groups}

    oracle_entities = set()
    oracle_groups = set()
    for row in pages.select("url", "text").collect():
        res = run_inference_on_object(
            row["text"], model, tags, custom, group_filters
        )
        for e in res.entities:
            oracle_entities.add((row["url"], *e))
        for g in res.groups:
            oracle_groups.add((row["url"], g))

    assert spark_entities == oracle_entities
    assert len(oracle_entities) > 0
    assert spark_groups == oracle_groups


def test_unicode_byte_offsets(spark):
    """Offsets on the multilingual doc are byte offsets into UTF-8 text
    (inference_test.go:35-44 fixture)."""
    pages = fixtures.pages_df(spark, n=30).filter(
        F.col("url").endswith("golden/unicode")
    )
    config = ReportConfig.make(model_type="presidio")
    out = run_report(pages, config)
    rows = out.entities.collect()
    assert rows, "expected entities in the unicode fixture"
    raw = fixtures.UNICODE_TEXT.encode("utf-8")
    for r in rows:
        assert raw[r["start"] : r["end"]].decode("utf-8", errors="ignore") == r["text"]
    texts = {r["text"] for r in rows}
    # SSNs with multi-byte characters earlier in the doc still align
    assert "123-45-6789" in texts
    assert "987-65-4321" in texts


def test_token_counts_and_previews(spark):
    pages = fixtures.integration_pages_df(spark).limit(3)
    config = ReportConfig.make(
        model_type="regex",
        model_params={"patterns": {"phone": r"\d{3}-\d{3}-\d{4}"}},
        build_previews=True,
    )
    out = run_report(pages, config)
    toks = {r["url"]: r["total_tokens"] for r in out.token_counts.collect()}
    for row in pages.collect():
        assert toks[row["url"]] == len(row["text"].split())
    previews = out.previews.collect()
    assert len(previews) == 3
    for p in previews:
        assert len(p["tokens"]) == len(p["tags"])


def test_write_outputs_runs_model_pass_once(spark, tmp_path):
    """Round-3 review: write_outputs materializes 5-6 tables from
    report_rows; without materializing the rows first, EVERY sink write
    re-ran the full model pass. Count actual model invocations via a
    worker-side side-channel file (local mode shares the FS)."""
    import glob
    import os

    from ner_backend_spark.spark.pipeline import run_report, write_outputs
    from ner_backend_spark.spark.tagger import ReportConfig

    calls_dir = str(tmp_path / "calls")
    os.makedirs(calls_dir)

    pages = fixtures.pages_df(spark, n=40).select("url", "text")
    # the python_class plugin loader (P4) resolves the model inside each
    # executor worker by dotted path — no pickled code, like the reference
    config = ReportConfig.make(
        model_type="python_class",
        model_params={
            "class": "tests.counting_model_fixture.CountingModel",
            "dir": calls_dir,
        },
    )
    out = run_report(pages, config)
    write_outputs(out, str(tmp_path / "report"), n_buckets=4)
    n_calls = len(glob.glob(f"{calls_dir}/*"))
    assert n_calls == 40, f"model ran {n_calls} times for 40 docs"


def test_python_task_cost_flat_in_partition_count(spark):
    """Python tasks pay no per-task re-read of the zips on sys.path. The
    worker calls importlib.invalidate_caches() once per task; before
    CPython 3.13 that re-read 16 zip directories a task, until importing
    ner_backend_spark made unchanged archives skip it. On a 4-vCPU host,
    local[4], best of 3 each: 64 partitions of an identity mapInPandas
    cost 1.0 s more than 4 with the skip and 4.4 s more without."""
    import sys
    import time

    def identity(batches):
        import zipimport

        import ner_backend_spark  # noqa: F401

        wrapper = zipimport.zipimporter.invalidate_caches
        installed = wrapper.__module__ == "ner_backend_spark"
        for pdf in batches:
            yield pdf.assign(installed=installed)

    def best_wall(n: int) -> float:
        df = spark.range(0, 5000, 1, n).mapInPandas(
            identity, "id long, installed boolean"
        )
        walls = []
        for _ in range(3):
            t = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t)
        return min(walls)

    installed = {
        r["installed"]
        for r in spark.range(0, 64, 1, 8)
        .mapInPandas(identity, "id long, installed boolean")
        .select("installed")
        .distinct()
        .collect()
    }
    assert installed == {sys.version_info < (3, 13)}
    t4, t64 = best_wall(4), best_wall(64)
    assert t64 - t4 < 2.25, (t4, t64)
