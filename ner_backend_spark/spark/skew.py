"""Explicit skew handling: hot-domain detection, salting, two-phase aggs.

At web scale a handful of domains dominate the url distribution (the
fixtures' Zipf domains model this). Three mitigations, composable:

* AQE skew-join splitting is ON by default (session.py) — handles runtime
  size skew in shuffles for free.
* ``salted_repartition`` breaks a hot *partitioning* key by appending a
  deterministic salt, bounding any single task's share of a hot key to
  1/n_salts. Used before the tagger when the source isn't already
  url-hash-bucketed.
* ``two_phase_agg`` computes per-(key, salt) partials, then combines —
  the classic salted aggregation; exact for algebraic aggregates.
* ``salted_join_hot_keys`` salts ONLY detected hot keys (broadcasting the
  small hot-key set) and replicates the dimension side per salt, leaving
  the non-skewed majority untouched.

The bucket self-join of the KG blocking and every near-duplicate operator
(``kg.bucket_pairs``) handles its own skew the same way: one groupBy
sizes the buckets, the tiny sets of over-cap and hot keys are broadcast,
over-cap buckets are dropped (``kg.drop_oversized``) and a hot bucket's
O(m^2) pairs are split over chunk groups instead of one task.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def domain_of(url) -> Column:
    """Registrable host portion of a url, JVM-side."""
    return F.regexp_extract(url, r"^(?:[a-z][a-z0-9+.-]*://)?([^/:?#]+)", 1)


def add_domain(df: DataFrame, url_col: str = "url") -> DataFrame:
    return df.withColumn("domain", domain_of(F.col(url_col)))


def hot_keys(
    df: DataFrame, key_col: str, threshold_fraction: float = 0.05
) -> DataFrame:
    """Keys holding more than threshold_fraction of all rows (1 agg pass)."""
    total = df.count()
    return (
        df.groupBy(key_col)
        .count()
        .filter(F.col("count") > total * threshold_fraction)
        .select(key_col, "count")
    )


def with_salt(df: DataFrame, n_salts: int, cols: list[str]) -> DataFrame:
    """Deterministic salt derived from row content (reproducible plans)."""
    return df.withColumn(
        "salt", F.pmod(F.xxhash64(*cols), F.lit(n_salts)).cast("int")
    )


def salted_repartition(
    df: DataFrame, key_col: str, n_salts: int = 8, num_partitions: int | None = None
) -> DataFrame:
    salted = with_salt(df, n_salts, [key_col, "url"] if "url" in df.columns and key_col != "url" else [key_col])
    if num_partitions:
        return salted.repartition(num_partitions, key_col, "salt")
    return salted.repartition(key_col, "salt")


def two_phase_count(
    df: DataFrame, key_col: str, n_salts: int = 8
) -> DataFrame:
    """Exact per-key counts via salted partial aggregation: the shuffle key
    is (key, salt), so a hot key spreads over n_salts reducers."""
    partial = (
        with_salt(df, n_salts, [key_col])
        .groupBy(key_col, "salt")
        .agg(F.count(F.lit(1)).alias("partial_count"))
    )
    return partial.groupBy(key_col).agg(
        F.sum("partial_count").alias("count")
    )


def salted_join_hot_keys(
    fact: DataFrame,
    dim: DataFrame,
    key_col: str,
    n_salts: int = 8,
    threshold_fraction: float = 0.05,
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """fact JOIN dim on key, salting only hot keys.

    Hot fact rows get a CONTENT-DERIVED salt (xxhash64 over ``salt_cols``,
    default: every hashable fact column) — never
    monotonically_increasing_id, whose value changes when a retried map
    task re-fetches shuffle rows in a different order, silently
    losing/duplicating rows across reducers (SPARK-23207-class hazard;
    round-3 review finding). Identical duplicate rows share a salt, which
    only costs balance, never correctness — callers whose hot keys are
    dominated by exact-duplicate rows should pass high-entropy
    ``salt_cols`` (e.g. a source offset) or the salt degenerates to one
    bucket per distinct row. The default skips columns xxhash64 cannot
    hash (MapType, incl. nested — AnalysisException otherwise; round-4
    advice) and raises if nothing hashable remains rather than salting on
    a constant. The dim rows for hot keys are replicated n_salts times
    (explode) so every (key, salt) finds its match. Cold keys keep
    salt = 0 with a single dim copy: no replication cost.
    """
    hot = hot_keys(fact, key_col, threshold_fraction).select(
        F.col(key_col).alias("__hot_key")
    )
    if not salt_cols:  # None OR [] fall back to the hashable default
        from pyspark.sql import types as T

        def hashable(dt) -> bool:
            if isinstance(dt, T.MapType):
                return False
            if isinstance(dt, T.ArrayType):
                return hashable(dt.elementType)
            if isinstance(dt, T.StructType):
                return all(hashable(f.dataType) for f in dt.fields)
            return True

        salt_cols = [
            f.name for f in fact.schema.fields if hashable(f.dataType)
        ]
        if not salt_cols:
            raise ValueError(
                "salted_join_hot_keys: no xxhash64-hashable fact columns "
                "for the default salt; pass salt_cols explicitly"
            )
    salt_src = [F.col(c) for c in salt_cols]
    fact_s = (
        fact.join(
            F.broadcast(hot), fact[key_col] == F.col("__hot_key"), "left"
        )
        .withColumn(
            "__salt",
            F.when(
                F.col("__hot_key").isNotNull(),
                F.pmod(F.xxhash64(*salt_src), F.lit(n_salts)).cast("int"),
            ).otherwise(F.lit(0)),
        )
        .drop("__hot_key")
    )
    dim_s = (
        dim.join(F.broadcast(hot), dim[key_col] == F.col("__hot_key"), "left")
        .withColumn(
            "__salts",
            F.when(
                F.col("__hot_key").isNotNull(),
                F.sequence(F.lit(0), F.lit(n_salts - 1)),
            ).otherwise(F.array(F.lit(0))),
        )
        .withColumn("__salt", F.explode("__salts"))
        .drop("__salts", "__hot_key")
    )
    return fact_s.join(dim_s, [key_col, "__salt"]).drop("__salt")
