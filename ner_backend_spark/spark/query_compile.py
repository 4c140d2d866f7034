"""Compile the group-query DSL to Spark Column expressions.

Two backends, mirroring the reference (SURVEY §2.5):

* ``group_membership``: the NORMATIVE per-object semantics
  (internal/core/filters.go:14-113) — one shuffle builds a per-url aggregate
  frame (counts per referenced label + bool-or per string predicate), then
  every group query is a cheap Column filter over that frame. N group
  queries share ONE aggregation; no per-group scans.

* ``search_objects``: the /search endpoint's SQL semantics
  (internal/core/query_parser.go:294-346), bug-for-bug: report-wide COUNTs
  (the reference subquery's ``o.object = object`` is a tautology) and
  row-level string predicates, DISTINCT url. See core/search.py.

String comparisons: Go compares UTF-8 bytes; Spark/Python compare
codepoints. UTF-8 byte order equals codepoint order for valid UTF-8, so the
semantics agree. CONTAINS is case-sensitive (filters.go:66).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.query import (
    AndFilter,
    CountFilter,
    NotFilter,
    OrFilter,
    StringEqFilter,
    StringGtFilter,
    StringLtFilter,
    SubstringFilter,
    parse_query,
)
_STRING_NODES = (SubstringFilter, StringEqFilter, StringLtFilter, StringGtFilter)


def _collect_leaves(node, labels: set[str], preds: dict):
    if isinstance(node, (AndFilter, OrFilter)):
        for f in node.filters:
            _collect_leaves(f, labels, preds)
    elif isinstance(node, NotFilter):
        _collect_leaves(node.filter, labels, preds)
    elif isinstance(node, CountFilter):
        labels.add(node.label)
    elif isinstance(node, _STRING_NODES):
        preds.setdefault(node, f"p_{len(preds)}")
    else:
        raise TypeError(f"unknown filter node: {node!r}")


def _string_pred_column(node) -> Column:
    text = F.col("text")
    if isinstance(node, SubstringFilter):
        cond = F.instr(text, node.substr) > 0
    elif isinstance(node, StringEqFilter):
        cond = text == node.value
    elif isinstance(node, StringLtFilter):
        cond = text < node.value
    else:
        cond = text > node.value
    return (F.col("label") == node.label) & cond


def _compile(node, pred_cols: dict) -> Column:
    if isinstance(node, AndFilter):
        out = _compile(node.filters[0], pred_cols)
        for f in node.filters[1:]:
            out = out & _compile(f, pred_cols)
        return out
    if isinstance(node, OrFilter):
        out = _compile(node.filters[0], pred_cols)
        for f in node.filters[1:]:
            out = out | _compile(f, pred_cols)
        return out
    if isinstance(node, NotFilter):
        return ~_compile(node.filter, pred_cols)
    if isinstance(node, CountFilter):
        cnt = F.coalesce(F.col(f"cnt_{node.label}"), F.lit(0))
        # filters.go:54-57 — exclusive on both ends
        return (cnt > node.min) & (cnt < node.max)
    return F.coalesce(F.col(pred_cols[node]), F.lit(False))


def build_aggregate_frame(
    entities: DataFrame, trees: list, urls: DataFrame | None = None
) -> tuple[DataFrame, dict]:
    """Per-url aggregate frame covering every leaf of every query tree.

    ``urls`` (a DataFrame with one ``url`` column) supplies the full object
    universe so documents with zero entities still evaluate (they can match
    e.g. ``NOT COUNT(x) > 0``); without it, only urls with >=1 entity row
    are evaluated.
    """
    labels: set[str] = set()
    preds: dict = {}
    for t in trees:
        _collect_leaves(t, labels, preds)

    aggs = [
        F.sum(F.when(F.col("label") == lbl, 1).otherwise(0)).alias(f"cnt_{lbl}")
        for lbl in sorted(labels)
    ]
    aggs += [
        F.max(_string_pred_column(node)).alias(name)
        for node, name in preds.items()
    ]
    if not aggs:  # query with no leaves cannot parse, but stay safe
        aggs = [F.count(F.lit(1)).alias("cnt__total")]

    frame = entities.groupBy("url").agg(*aggs)
    if urls is not None:
        frame = urls.select("url").distinct().join(frame, "url", "left")
    return frame, preds


def group_membership(
    entities: DataFrame,
    groups: dict[str, str],
    urls: DataFrame | None = None,
) -> DataFrame:
    """(url, group_name) rows under the normative per-object semantics.

    One aggregation serves all groups; each group adds only a Column filter
    + union branch. With several groups the frame is cut lazily
    (:func:`kg._materialize`): column pruning gives each branch an
    aggregate of its own columns only, so exchange reuse does not share
    the aggregation, and a ``cache()`` would hold a CacheManager entry
    for the rest of the session.
    """
    from .kg import _materialize

    trees = {name: parse_query(q) for name, q in groups.items()}
    frame, preds = build_aggregate_frame(entities, list(trees.values()), urls)
    if len(trees) > 1:
        frame = _materialize(frame, eager=False)

    parts = [
        frame.filter(_compile(tree, preds)).select(
            "url", F.lit(name).alias("group_name")
        )
        for name, tree in sorted(trees.items())
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def matching_urls(
    entities: DataFrame, query: str, urls: DataFrame | None = None
) -> DataFrame:
    """Urls matching one query (normative semantics)."""
    tree = parse_query(query)
    frame, preds = build_aggregate_frame(entities, [tree], urls)
    return frame.filter(_compile(tree, preds)).select("url")


# ---------------------------------------------------------------------------
# /search backend (SQL semantics, bug-for-bug)


def _compile_search(node, label_totals: dict[str, int]) -> Column:
    if isinstance(node, AndFilter):
        out = _compile_search(node.filters[0], label_totals)
        for f in node.filters[1:]:
            out = out & _compile_search(f, label_totals)
        return out
    if isinstance(node, OrFilter):
        out = _compile_search(node.filters[0], label_totals)
        for f in node.filters[1:]:
            out = out | _compile_search(f, label_totals)
        return out
    if isinstance(node, NotFilter):
        return ~_compile_search(node.filter, label_totals)
    if isinstance(node, CountFilter):
        total = label_totals.get(node.label, 0)
        if node.min == -1:
            return F.lit(total < node.max)
        if node.max == node.min + 2:
            return F.lit(total == node.min + 1)
        return F.lit(total > node.min)
    return _string_pred_column(node)


def search_objects(entities: DataFrame, query: str) -> DataFrame:
    """DISTINCT urls under the /search endpoint's row-level semantics.

    The report-wide label totals are a tiny aggregate (bounded by the label
    vocabulary) collected to the driver and folded into the expression as
    literals — the Spark analogue of the reference's uncorrelated subquery.
    """
    tree = parse_query(query)
    labels: set[str] = set()
    preds: dict = {}
    _collect_leaves(tree, labels, preds)
    if labels:
        totals_rows = (
            entities.filter(F.col("label").isin(sorted(labels)))
            .groupBy("label")
            .count()
            .collect()
        )
        label_totals = {r["label"]: r["count"] for r in totals_rows}
    else:
        label_totals = {}
    return (
        entities.filter(_compile_search(tree, label_totals))
        .select("url")
        .distinct()
    )
