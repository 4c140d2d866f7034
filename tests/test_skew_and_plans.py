"""Skew operators + physical-plan audits (pushdown, pruning, broadcast)."""

import pytest
from pyspark.sql import functions as F

from ner_backend_spark import fixtures
from ner_backend_spark.spark import skew


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "pages")
    fixtures.pages_df(spark, n=200).write.parquet(path)
    return path


def test_domain_extraction(spark):
    df = spark.createDataFrame(
        [("https://site0.example/page/1",), ("http://a.b.c:8080/x",), ("site2.example/z",)],
        ["url"],
    )
    got = [r["domain"] for r in skew.add_domain(df).collect()]
    assert got == ["site0.example", "a.b.c", "site2.example"]


def test_hot_key_detection_on_zipf_fixture(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    domains = skew.add_domain(pages)
    hot = skew.hot_keys(domains, "domain", threshold_fraction=0.05)
    hot_set = {r["domain"] for r in hot.collect()}
    assert "site0.example" in hot_set  # the Zipf head
    assert len(hot_set) < 12


def test_two_phase_count_exact(spark, pages_path):
    pages = skew.add_domain(spark.read.parquet(pages_path))
    want = {
        r["domain"]: r["count"]
        for r in pages.groupBy("domain").count().collect()
    }
    got = {
        r["domain"]: r["count"]
        for r in skew.two_phase_count(pages, "domain", n_salts=4).collect()
    }
    assert got == want


def test_salted_join_hot_keys_exact(spark, pages_path):
    pages = skew.add_domain(spark.read.parquet(pages_path))
    dim_rows = [(d,) for d in {r["domain"] for r in pages.select("domain").distinct().collect()}]
    dim = spark.createDataFrame(dim_rows, ["domain"]).withColumn(
        "dim_val", F.length("domain")
    )
    want = pages.join(dim, "domain").count()
    got = skew.salted_join_hot_keys(pages, dim, "domain", n_salts=4).count()
    assert got == want


def test_salted_join_skips_unhashable_salt_cols(spark, pages_path):
    """Round-4 advice: a MapType fact column must not reach xxhash64 in
    the default salt (AnalysisException) — the default filters to
    hashable columns and the join stays exact."""
    pages = skew.add_domain(spark.read.parquet(pages_path)).withColumn(
        "props", F.create_map(F.lit("k"), F.col("domain"))
    )
    dim_rows = [
        (d,)
        for d in {r["domain"] for r in pages.select("domain").distinct().collect()}
    ]
    dim = spark.createDataFrame(dim_rows, ["domain"]).withColumn(
        "dim_val", F.length("domain")
    )
    want = pages.join(dim, "domain").count()
    got = skew.salted_join_hot_keys(pages, dim, "domain", n_salts=4).count()
    assert got == want


# ---------------------------------------------------------------------------
# physical plan audits


def test_column_pruning_html_never_read(spark, pages_path):
    """Selecting (url, text) must prune the binary html column at the scan."""
    pages = spark.read.parquet(pages_path)
    plan = pages.select("url", "text")._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "html" not in read_schema
    assert "url" in read_schema and "text" in read_schema


def test_predicate_pushdown_to_parquet(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    q = pages.filter(F.col("lang") == "en").select("url")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan


def test_small_dim_join_is_broadcast(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    dim = spark.createDataFrame([("en", "English")], ["lang", "lang_name"])
    q = pages.join(F.broadcast(dim), "lang").select("url", "lang_name")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_tagger_plan_prunes_columns(spark, pages_path):
    """The NER pipeline reads only (url, text) from a 5-column table."""
    from ner_backend_spark.spark.pipeline import run_report
    from ner_backend_spark.spark.tagger import ReportConfig

    pages = spark.read.parquet(pages_path)
    out = run_report(pages, ReportConfig.make(
        model_type="regex", model_params={"patterns": {"p": r"\d+"}}
    ))
    plan = out.entities._jdf.queryExecution().executedPlan().toString()
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "html" not in read_schema and "warc_ts" not in read_schema


def test_kg_alias_join_is_broadcast(spark, pages_path):
    """Alias-dictionary candidate generation must be a map-side broadcast
    join (SURVEY §2.7 J-new), never a shuffle of the mention set."""
    from ner_backend_spark.spark import kg

    ents = spark.createDataFrame(
        [("u1", "NAME", "Spark"), ("u2", "NAME", "spark "), ("u3", "TOOL", "flink")],
        ["url", "label", "text"],
    )
    alias_df = spark.createDataFrame(
        [("spark", "ENT_SPARK")], ["surface", "canonical_id"]
    )
    out = kg.alias_candidates(kg.extract_mentions(ents), alias_df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ensure_parallelism_fans_out_small_input(spark, pages_path):
    from ner_backend_spark.spark.session import ensure_parallelism, map_batches

    one = spark.read.parquet(pages_path).coalesce(1)
    assert one.rdd.getNumPartitions() == 1
    fanned = ensure_parallelism(one)
    assert (
        fanned.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    # every Arrow kernel's entry point fans the same frame out first
    mapped = map_batches(
        one.select("url"), lambda pdf: pdf.assign(n=len(pdf)), "url string, n long"
    )
    assert mapped.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    rows = mapped.collect()
    assert sorted(r["url"] for r in rows) == sorted(
        r["url"] for r in one.select("url").collect()
    )
    assert all(r["n"] >= 1 for r in rows)
    # already-wide inputs are untouched (no extra shuffle at scale)
    wide = spark.range(0, 1000, 1, 64)
    assert ensure_parallelism(wide).rdd.getNumPartitions() == 64


SF001 = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_tpch_scans_prune_and_push(spark):
    """q01's lineitem scan must push the shipdate filter into parquet and
    prune to only the referenced columns (a scan reading every column for
    a 7-column aggregate is the wrong plan at 100 TB)."""
    import __spark_entry__ as entry

    plan = _plan(entry.queries()["q01_pricing_summary"](spark, SF001))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read and "l_orderkey" not in read
    assert "l_quantity" in read and "l_returnflag" in read


def test_curation_single_scan(spark):
    """The curation composite must read documents ONCE (window-based
    canonical selection), never once per composed operator."""
    import __spark_entry__ as entry

    plan = _plan(entry.queries()["q_curation_stats"](spark, SF001))
    assert plan.count("documents.parquet") == 1


def test_neardup_caps_broadcast_only_oversized_keys(spark):
    """The bucket cap must appear as a broadcast (anti) join on the tiny
    oversized-key set — never a row-level shuffle of the banded table."""
    from ner_backend_spark.spark.dedup import (
        near_duplicates_minhash,
        simhash_near_duplicates,
    )

    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    for df in (
        near_duplicates_minhash(docs, "doc_id", "text", max_bucket_size=64),
        simhash_near_duplicates(docs, "doc_id", "text", max_bucket_size=64),
    ):
        plan = _plan(df)
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_capped_pair_generators_log_no_errors(spark, log_errors):
    """The capped MinHash, capped SimHash, winnowing and capped KG
    blocking each run once without an ERROR line: a lazy cut that a
    broadcast job of the bucket self-join materializes mid-query logs
    "attempted to access non-existent accumulator" for every late task
    event."""
    from ner_backend_spark.flagship import (
        KG_MAX_BUCKET,
        MINHASH,
        SIMHASH,
        WINNOW,
        WINNOW_NEARDUP,
    )
    from ner_backend_spark.spark import dedup, kg

    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    ents = docs.select(
        F.col("doc_id").cast("string").alias("url"),
        F.lit("WORD").alias("label"),
        F.explode(F.split("text", " ")).alias("text"),
    )
    with log_errors() as writer:
        dedup.near_duplicates_minhash(docs, "doc_id", "text", **MINHASH).count()
        dedup.simhash_near_duplicates(docs, "doc_id", "text", **SIMHASH).count()
        dedup.winnow_near_duplicates(
            docs, "doc_id", "text", **WINNOW, **WINNOW_NEARDUP
        ).count()
        # the mentions cut lazily, as canonicalize cuts them, and banded
        # into the eager cut mention_edges blocks
        mentions = kg._materialize(kg.extract_mentions(ents), eager=False)
        banded = kg._materialize(kg._banded(mentions))
        kg.lsh_candidate_pairs(banded, KG_MAX_BUCKET).count()
    assert writer.toString() == ""


def test_curation_pipeline_single_corpus_scan(spark):
    """The full curation composite must scan the corpus ONCE: the
    decontamination flag folds into the base scan as a row-local
    arrays_overlap against a broadcast one-row benchmark-gram set (the
    only other documents read is the doc_id<20-pruned benchmark side),
    and no join on doc_id survives in the physical plan (round-4 "Next
    round" #6 — the old shape re-scanned the corpus and shuffled a
    corpus-wide doc_id join back)."""
    import __spark_entry__ as entry

    plan = _plan(entry.queries()["q_curation_pipeline"](spark, SF001))
    assert plan.count("documents.parquet") == 2  # corpus + pruned bench
    assert "arrays_overlap" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row gram set, broadcast
    assert "Exchange hashpartitioning(doc_id" not in plan
