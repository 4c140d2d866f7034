"""Output checks run after every timed pass.

* :func:`digest` — an order-invariant fingerprint of a table: row count and
  the sum of per-row xxhash64 values. It is compared with the value
  recorded for the seed's window in ``digests.json``.
* :func:`presidio_pr` — entity precision and recall of the deployed
  tagger against the reference presidio semantics
  (``core.inference.run_inference_on_object``) on a fixed page sample.
* :func:`kcore_oracle` / :func:`truss_oracle` — plain-Python peels over
  the same co-occurrence edges the Spark calls received.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DIGESTS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def digest(df: DataFrame) -> str:
    cols = sorted(df.columns)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return f"{row['n']}:{row['h']}"


def load_recorded() -> dict:
    with open(DIGESTS_PATH) as f:
        return json.load(f)


def compare_digests(
    recorded: dict, workload: str, window: int, got: dict[str, str]
) -> list[str]:
    """Names of outputs whose digest differs from (or lacks) the record."""
    want = recorded.get(workload, {}).get(str(window), {})
    return sorted(k for k, v in got.items() if want.get(k) != v)


def presidio_pr(
    pages: list[tuple[str, str]], spark_entities: set[tuple], config
) -> tuple[float, float]:
    """(precision, recall) of ``spark_entities`` — tuples of (url, label,
    text, start, end, l_context, r_context) — against the reference run of
    ``config`` over ``pages`` (url, text)."""
    from ner_backend_spark.core.inference import (
        compile_custom_tags,
        run_inference_on_object,
    )
    from ner_backend_spark.core.models import load_model
    from ner_backend_spark.core.query import parse_query

    model = load_model(config.model_type, config.params_dict())
    tags = set(config.tags) or set(model.get_tags())
    custom = compile_custom_tags(dict(config.custom_tags))
    groups = {name: parse_query(q) for name, q in config.groups}
    want = set()
    for url, text in pages:
        res = run_inference_on_object(
            text, model, tags, custom, groups, build_previews=False
        )
        want.update((url, *e) for e in res.entities)
    tp = len(spark_entities & want)
    return tp / max(len(spark_entities), 1), tp / max(len(want), 1)


def kcore_oracle(edges: list[tuple[str, str]], k: int) -> dict[str, int]:
    """node -> in-core degree of the k-core of an undirected edge list."""
    cur = {tuple(sorted(e)) for e in edges}
    while True:
        deg: dict[str, int] = defaultdict(int)
        for a, b in cur:
            deg[a] += 1
            deg[b] += 1
        nxt = {(a, b) for a, b in cur if deg[a] >= k and deg[b] >= k}
        if nxt == cur:
            return dict(deg)
        cur = nxt


def truss_oracle(
    edges: list[tuple[str, str]], k: int
) -> dict[tuple[str, str], int]:
    """(a, b) with a < b -> in-truss triangle support of the k-truss."""
    cur = {tuple(sorted(e)) for e in edges}
    while True:
        adj: dict[str, set[str]] = defaultdict(set)
        for a, b in cur:
            adj[a].add(b)
            adj[b].add(a)
        sup = {(a, b): len(adj[a] & adj[b]) for a, b in cur}
        nxt = {e for e in cur if sup[e] >= k - 2}
        if nxt == cur:
            return sup
        cur = nxt
