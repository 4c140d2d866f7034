"""Mimics the driver's correctness gate: run every queries() entry on Spark
and its oracle_sql() on DuckDB over the same parquet, compare value sets.
Runs at sf0.001 for speed (the driver uses sf0.01)."""

import datetime as dt
import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"
# materialized python-oracle tables must match the SF this test runs at
os.environ["SPARK_GRAFT_ORACLE_SF"] = SF_DIR
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    return v


def _sort_key(t):
    # NULL-safe, type-heterogeneous ordering (see tools/check_parity.py)
    return tuple((v is None, str(v)) for v in t)


def _rows_to_multiset(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows), key=_sort_key
    )


ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()
_KERNELS = ("MapInPandas", "MapInArrow", "ArrowEvalPython")


def _kernel_nodes(node) -> list:
    """The Python-kernel nodes of an executed plan: AQE's final plan and
    its query stages. A ReusedExchange is a leaf, so a kernel under a
    reused exchange counts once, as it runs once."""
    if node.nodeName() == "AdaptiveSparkPlan":
        node = node.executedPlan()
    if node.nodeName().endswith("QueryStage"):
        node = node.plan()
    found = [node] if any(k in node.nodeName() for k in _KERNELS) else []
    kids = node.children()
    for i in range(kids.size()):
        found += _kernel_nodes(kids.apply(i))
    return found


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, duck, name):
    sdf = QUERIES[name](spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]
    # each Python kernel runs once per input row: no two kernel nodes of
    # the final plan compute the same result (sameResult compares the
    # canonical subtrees, expression ids masked, reused exchanges resolved)
    kernels = _kernel_nodes(sdf._jdf.queryExecution().executedPlan())
    twice = [
        a.nodeName()
        for i, a in enumerate(kernels)
        for b in kernels[i + 1:]
        if a.sameResult(b)
    ]
    assert not twice, f"{name}: a Python kernel runs twice: {twice}"

    res = duck.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    got = _rows_to_multiset(spark_rows, spark_cols)
    want = _rows_to_multiset(duck_rows, duck_cols)
    assert len(got) == len(want), f"{name}: row count {len(got)} vs {len(want)}"
    if got != want:
        diff = next(((a, b) for a, b in zip(got, want) if a != b), None)
        pytest.fail(f"{name}: value mismatch, first diff: {diff}")


def test_rows_only_queries_run(spark):
    for name, fn in QUERIES.items():
        if name in ORACLES:
            continue
        df = fn(spark, SF_DIR)
        assert df.count() >= 0, name


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert set(df.columns) >= {"url", "label", "text", "start", "end"}
