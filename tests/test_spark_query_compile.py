"""Spark Column compilation of the group-query DSL vs the core evaluators."""

import pytest

from ner_backend_spark.core.entity import Entity
from ner_backend_spark.core.query import parse_query
from ner_backend_spark.core.search import search_objects as core_search
from ner_backend_spark.spark import query_compile as qc

SEED_ROWS = [
    ("object1", "label1", "text1"),
    ("object2", "label2", "text2"),
    ("object3", "label3", "abc"),
    ("object1", "label3", "text3"),
    ("object1", "label4", "12xyz34"),
    ("object3", "label4", "12xyz34"),
    ("object4", "label3", "12xyz34"),
]

QUERIES = [
    'label4 CONTAINS "xyz" AND (COUNT(label2) > 0 OR label3 = "abc")',
    "COUNT(label3) < 2",
    "COUNT(label3) = 1 AND NOT COUNT(label2) > 0",
    'label3 > "b" OR label1 < "a"',
    'NOT (label4 CONTAINS "xyz")',
]


@pytest.fixture(scope="module")
def entities(spark):
    df = spark.createDataFrame(SEED_ROWS, ["url", "label", "text"]).cache()
    yield df
    df.unpersist()


def _core_group_eval(query, rows):
    tree = parse_query(query)
    by_obj: dict[str, dict[str, list[Entity]]] = {}
    for obj, label, text in rows:
        by_obj.setdefault(obj, {}).setdefault(label, []).append(
            Entity(label, text, 0, 0, "", "")
        )
    return {obj for obj, m in by_obj.items() if tree.matches(m)}


@pytest.mark.parametrize("query", QUERIES)
def test_group_semantics_match_core(spark, entities, query):
    got = {r["url"] for r in qc.matching_urls(entities, query).collect()}
    want = _core_group_eval(query, SEED_ROWS)
    # Spark path without a url universe can't emit zero-entity urls; the
    # seed gives every object at least one entity so the sets must be equal.
    assert got == want


def test_group_membership_shared_aggregate(spark, entities):
    groups = {
        "g_xyz": 'label4 CONTAINS "xyz"',
        "g_label3_single": "COUNT(label3) = 1",
    }
    cache = spark._jsparkSession.sharedState().cacheManager()
    cached = cache.numCachedEntries()
    rows = qc.group_membership(entities, groups).collect()
    got = {(r["url"], r["group_name"]) for r in rows}
    want = set()
    for name, q in groups.items():
        for obj in _core_group_eval(q, SEED_ROWS):
            want.add((obj, name))
    assert got == want
    # the shared aggregate leaves no CacheManager entry behind
    assert cache.numCachedEntries() == cached


def test_url_universe_includes_zero_entity_objects(spark, entities):
    urls = spark.createDataFrame(
        [("object1",), ("object9",)], ["url"]
    )
    got = {
        r["url"]
        for r in qc.matching_urls(entities, "COUNT(label2) < 1", urls).collect()
    }
    assert got == {"object1", "object9"}  # both have zero label2 entities


@pytest.mark.parametrize("query", QUERIES)
def test_search_semantics_match_core(spark, entities, query):
    got = {r["url"] for r in qc.search_objects(entities, query).collect()}
    want = core_search(query, SEED_ROWS)
    assert got == want


def test_search_golden(spark, entities):
    got = {
        r["url"]
        for r in qc.search_objects(entities, QUERIES[0]).collect()
    }
    assert got == {"object1", "object3"}  # api_test.go:473-513
