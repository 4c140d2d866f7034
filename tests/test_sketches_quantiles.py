"""Relational HLL sketch, rank-interpolation quantiles, range join.

HLL ground truth is an independent pure-Python HLL over hashlib.md5
(different formulation from both the Spark plan and the DuckDB oracle);
quantile ground truth is numpy.percentile(method="linear"); range-join
ground truth is the brute-force nested loop.
"""

import datetime as dt
import hashlib
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from ner_backend_spark.spark.asof import range_join
from ner_backend_spark.spark.quantiles import group_quantiles
from ner_backend_spark.spark.sketches import (
    hll_estimate,
    hll_merge,
    hll_registers,
)


def _py_hll(values, p=8):
    """Independent register computation: dict of bucket -> max rho."""
    regs = {}
    for v in values:
        h = hashlib.md5(str(v).encode()).hexdigest()
        bucket = int(h[: p // 4], 16)
        w = int(h[p // 4 : p // 4 + 13], 16)
        rho = 53 if w == 0 else 53 - w.bit_length()
        regs[bucket] = max(regs.get(bucket, 0), rho)
    return regs


def _py_estimate(regs, p=8):
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    s = sum(1 << (53 - r) for r in regs.values())
    s += (m - len(regs)) * (1 << 53)
    raw = alpha * 2.0 ** (2 * p + 53) / float(s)
    zeros = m - len(regs)
    if zeros > 0 and raw <= 2.5 * m:
        return m * math.log(m / zeros)
    return raw


@pytest.fixture(scope="module")
def vals_df(spark):
    rows = [("g1", f"user{i}") for i in range(500)] + [
        ("g2", f"user{i}") for i in range(0, 500, 5)
    ]
    # duplicates must not change the sketch
    rows += rows[:200]
    return spark.createDataFrame(rows, "grp string, val string")


def test_hll_registers_match_python(spark, vals_df):
    regs = hll_registers(vals_df, ["grp"], "val", p=8).collect()
    got_g1 = {r["bucket"]: r["reg"] for r in regs if r["grp"] == "g1"}
    want_g1 = _py_hll([f"user{i}" for i in range(500)])
    assert got_g1 == want_g1


def test_hll_estimate_accuracy_and_parity(spark, vals_df):
    est = hll_estimate(
        hll_registers(vals_df, ["grp"], "val", p=8), ["grp"], p=8
    ).collect()
    by = {r["grp"]: r for r in est}
    want = _py_estimate(_py_hll([f"user{i}" for i in range(500)]))
    assert by["g1"]["est"] == pytest.approx(round(want, 3), abs=1e-9)
    # HLL with m=256 has ~6.5% relative error; both true counts are
    # far under 2.5m so this is the linear-counting regime (tight)
    assert abs(by["g1"]["est"] - 500) / 500 < 0.15
    assert abs(by["g2"]["est"] - 100) / 100 < 0.15


def test_hll_merge_is_union(spark):
    a = spark.createDataFrame(
        [("g", f"u{i}") for i in range(300)], "grp string, val string"
    )
    b = spark.createDataFrame(
        [("g", f"u{i}") for i in range(150, 450)], "grp string, val string"
    )
    merged = hll_merge(
        hll_registers(a, ["grp"], "val", p=8).unionByName(
            hll_registers(b, ["grp"], "val", p=8)
        ),
        ["grp"],
    )
    direct = hll_registers(
        a.unionByName(b), ["grp"], "val", p=8
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_hll_raw_branch_high_cardinality(spark):
    # p=4 (m=16): 400 distinct values saturate every register, zeros=0
    # forces the raw-estimate branch
    df = spark.createDataFrame(
        [("g", f"u{i}") for i in range(400)], "grp string, val string"
    )
    row = hll_estimate(
        hll_registers(df, ["grp"], "val", p=4), ["grp"], p=4
    ).collect()[0]
    assert row["zeros"] == 0
    want = _py_estimate(_py_hll([f"u{i}" for i in range(400)], p=4), p=4)
    assert row["est"] == pytest.approx(round(want, 3), abs=1e-9)


def test_hll_rejects_bad_p(spark, vals_df):
    with pytest.raises(ValueError):
        hll_registers(vals_df, ["grp"], "val", p=10)


def _py_cms(values, depth=4, width=1024):
    cnt = {}
    for v in values:
        for i in range(depth):
            h = hashlib.md5(f"{v}#{i}".encode()).hexdigest()
            cnt[(i, int(h[:13], 16) % width)] = (
                cnt.get((i, int(h[:13], 16) % width), 0) + 1
            )
    return cnt


def _py_cms_est(cnt, key, depth=4, width=1024):
    return min(
        cnt.get(
            (i, int(hashlib.md5(f"{key}#{i}".encode()).hexdigest()[:13], 16)
             % width),
            0,
        )
        for i in range(depth)
    )


def test_cms_matches_python_and_never_undercounts(spark):
    from ner_backend_spark.spark.sketches import cms_lookup, cms_table

    vals = [f"k{i % 37}" for i in range(1000)] + ["hot"] * 500
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    sketch = cms_table(df, "v", depth=4, width=64)  # narrow -> collisions
    got_sketch = {
        (r["row"], r["col"]): r["cnt"] for r in sketch.collect()
    }
    assert got_sketch == _py_cms(vals, 4, 64)
    keys = spark.createDataFrame(
        [(k,) for k in set(vals)] + [("absent",)], "key string"
    )
    est = {
        r["key"]: r["est"]
        for r in cms_lookup(sketch, keys, "key", depth=4, width=64).collect()
    }
    from collections import Counter

    exact = Counter(vals)
    for k in set(vals) | {"absent"}:
        assert est[k] >= exact.get(k, 0)  # CMS never undercounts
        assert est[k] == _py_cms_est(_py_cms(vals, 4, 64), k, 4, 64)
    assert est["hot"] == 500 or est["hot"] > 500


def test_cms_merge_is_elementwise_sum(spark):
    from ner_backend_spark.spark.sketches import cms_table

    a = spark.createDataFrame([(f"x{i}",) for i in range(200)], "v string")
    b = spark.createDataFrame([(f"x{i}",) for i in range(100, 300)], "v string")
    merged = (
        cms_table(a, "v")
        .unionByName(cms_table(b, "v"))
        .groupBy("row", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )
    direct = cms_table(a.unionByName(b), "v")
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_weighted_sample_matches_python_replica(spark):
    from ner_backend_spark.spark.sampling import weighted_sample

    rows = [(i, "g1" if i % 2 else "g2", (i * 37) % 500 + 1) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, grp string, w long")
    got = sorted(
        (r["grp"], r["doc_id"])
        for r in weighted_sample(
            df, key="doc_id", weight_col="w", k=5, stratum="grp"
        ).collect()
    )

    def prio(doc_id, w):
        h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:13], 16)
        return float(w) * float(1 << 52) / float(h + 1)

    want = []
    for grp in ("g1", "g2"):
        grp_rows = [(i, w) for i, g, w in rows if g == grp]
        top = sorted(grp_rows, key=lambda t: (-prio(*t), t[0]))[:5]
        want += [(grp, i) for i, _ in top]
    assert got == sorted(want)
    # stability: a different partitioning selects the same rows
    got2 = sorted(
        (r["grp"], r["doc_id"])
        for r in weighted_sample(
            df.repartition(7), key="doc_id", weight_col="w", k=5,
            stratum="grp",
        ).collect()
    )
    assert got2 == got


def test_group_quantiles_match_numpy(spark):
    rng = np.random.RandomState(7)
    data = [
        ("a", float(v)) for v in rng.uniform(0, 100, 501)
    ] + [("b", float(v)) for v in rng.exponential(10, 40)]
    df = spark.createDataFrame(data, "grp string, v double")
    ps = [0.0, 0.25, 0.5, 0.9, 1.0]
    got = {
        (r["grp"], r["p"]): r["q"]
        for r in group_quantiles(df, "grp", "v", ps).collect()
    }
    for grp in ("a", "b"):
        vals = np.array([v for g, v in data if g == grp])
        for p in ps:
            want = float(np.percentile(vals, p * 100, method="linear"))
            assert got[(grp, p)] == pytest.approx(want, abs=1e-6), (grp, p)


def test_group_quantiles_single_row_group(spark):
    df = spark.createDataFrame([("a", 7.0)], "grp string, v double")
    got = group_quantiles(df, "grp", "v", [0.5]).collect()
    assert got[0]["q"] == 7.0


def test_group_quantiles_all_null_group_emits_null(spark):
    # quantile_cont/percentile_cont semantics: NULL values are ignored,
    # but a group whose values are ALL NULL still appears in the output
    # with a NULL quantile (round-7 ADVICE on the round-6 null filter)
    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", 3.0), ("b", None), ("b", None)],
        "grp string, v double",
    )
    got = {
        (r["grp"], r["p"]): r["q"]
        for r in group_quantiles(df, "grp", "v", [0.5, 1.0]).collect()
    }
    assert got[("a", 0.5)] == pytest.approx(2.0)
    assert got[("a", 1.0)] == pytest.approx(3.0)
    assert got[("b", 0.5)] is None
    assert got[("b", 1.0)] is None


def test_range_join_matches_bruteforce(spark):
    t0 = dt.datetime(2024, 1, 1)
    points = [
        ("k1", t0 + dt.timedelta(minutes=7 * i), i) for i in range(200)
    ] + [("k2", t0 + dt.timedelta(minutes=11 * i), 1000 + i) for i in range(60)]
    # intervals deliberately span bin boundaries, nest, and overlap
    intervals = [
        ("k1", "w1", t0 + dt.timedelta(minutes=5), t0 + dt.timedelta(minutes=50)),
        ("k1", "w2", t0 + dt.timedelta(minutes=30), t0 + dt.timedelta(minutes=400)),
        ("k1", "w3", t0 + dt.timedelta(minutes=35), t0 + dt.timedelta(minutes=36)),
        ("k2", "w4", t0, t0 + dt.timedelta(minutes=660)),
        ("k2", "w5", t0 + dt.timedelta(minutes=659), t0 + dt.timedelta(minutes=661)),
    ]
    pdf = spark.createDataFrame(
        points, "key string, ts timestamp, pid int"
    )
    idf = spark.createDataFrame(
        intervals, "key string, wid string, s timestamp, e timestamp"
    )
    got = sorted(
        (r["pid"], r["wid"])
        for r in range_join(
            pdf, idf, on="key", point_ts="ts", start_ts="s", end_ts="e",
            bin_seconds=900,
        ).collect()
    )
    want = sorted(
        (pid, wid)
        for key, ts, pid in points
        for k2, wid, s, e in intervals
        if key == k2 and s <= ts < e
    )
    assert got == want
    # boundary semantics: start inclusive, end exclusive
    assert (1000, "w4") in got  # point exactly at interval start
    k2_659 = [p for k, t, p in points if k == "k2" and t == t0 + dt.timedelta(minutes=660)]
    assert all((p, "w4") not in got for p in k2_659)  # at end -> excluded


# ---------------------------------------------------------------------------
# Bloom filter (round 6): membership completes the mergeable-sketch family


def _py_bloom_bits(values, k=4, m_bits=65536):
    bits = set()
    for v in values:
        for i in range(k):
            h = hashlib.md5(f"{v}#{i}".encode()).hexdigest()
            bits.add(int(h[:13], 16) % m_bits)
    return bits


def test_bloom_bits_match_python(spark):
    from ner_backend_spark.spark.sketches import bloom_bits

    vals = [f"item{i}" for i in range(300)] * 2  # dups must not matter
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    got = {r["bit"] for r in bloom_bits(df, "v").collect()}
    assert got == _py_bloom_bits(vals)


def test_bloom_contains_no_false_negatives(spark):
    from ner_backend_spark.spark.sketches import bloom_bits, bloom_contains

    members = [f"m{i}" for i in range(200)]
    bits = bloom_bits(
        spark.createDataFrame([(v,) for v in members], ["v"]), "v"
    )
    probes = members[:50] + [f"absent{i}" for i in range(50)]
    keys = spark.createDataFrame([(p,) for p in probes], ["key"])
    out = {
        r["key"]: r["maybe_present"]
        for r in keys.select(
            "key", bloom_contains(bits, F.col("key")).alias("maybe_present")
        ).collect()
    }
    assert all(out[m] for m in members[:50])  # Bloom guarantee
    # at n=200, k=4, m=65536 the FP rate is ~2e-9; all absents negative
    assert not any(out[a] for a in probes[50:])


def test_bloom_merge_is_bit_union(spark):
    from ner_backend_spark.spark.sketches import bloom_bits

    a = [f"a{i}" for i in range(100)]
    b = [f"b{i}" for i in range(100)]
    bits_a = bloom_bits(spark.createDataFrame([(v,) for v in a], ["v"]), "v")
    bits_b = bloom_bits(spark.createDataFrame([(v,) for v in b], ["v"]), "v")
    merged = {
        r["bit"] for r in bits_a.union(bits_b).distinct().collect()
    }
    whole = bloom_bits(
        spark.createDataFrame([(v,) for v in a + b], ["v"]), "v"
    )
    assert merged == {r["bit"] for r in whole.collect()}


def test_heavy_hitters_exact_at_threshold(spark):
    from ner_backend_spark.spark.sketches import heavy_hitters

    # counts: a=50, b=20, c=10, d=1x20 singletons -> N=100
    rows = (
        [("a",)] * 50 + [("b",)] * 20 + [("c",)] * 10
        + [(f"d{i}",) for i in range(20)]
    )
    df = spark.createDataFrame(rows, ["v"])
    got = {
        r["value"]: r["n"]
        for r in heavy_hitters(df, "v", theta_num=1, theta_den=10).collect()
    }
    # threshold is n*10 >= 100, i.e. n >= 10 — c sits exactly ON it
    assert got == {"a": 50, "b": 20, "c": 10}, got
    got2 = {
        r["value"]: r["n"]
        for r in heavy_hitters(df, "v", theta_num=1, theta_den=5).collect()
    }
    assert got2 == {"a": 50, "b": 20}, got2


def test_heavy_hitters_exact_under_forced_collisions(spark):
    from ner_backend_spark.spark.sketches import heavy_hitters

    # width 4 with a 200-value vocab: every CMS cell collides massively,
    # so the candidate set is a large superset — the exact verify pass
    # must still produce exactly the true heavy hitters
    rows = [("hot",)] * 60 + [(f"t{i}",) for i in range(200)]
    df = spark.createDataFrame(rows, ["v"])
    got = {
        r["value"]: r["n"]
        for r in heavy_hitters(
            df, "v", theta_num=1, theta_den=10, depth=2, width=4
        ).collect()
    }
    assert got == {"hot": 60}, got


def test_heavy_hitters_plan_map_side_filter(spark):
    from ner_backend_spark.spark.sketches import heavy_hitters

    df = spark.range(2000).select(
        (F.col("id") % 37).cast("string").alias("v")
    )
    plan = (
        heavy_hitters(df, "v", theta_num=1, theta_den=100)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # ONE vocabulary-keyed exchange (the exact groupBy over candidate-
    # filtered rows); the d sketch-row lookups are BROADCAST joins below
    # it (the sketch is <= d*w rows by construction) — the value stream
    # itself never hits a hash or sort-merge exchange
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("BroadcastHashJoin") == 4, plan
    assert "least(" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_binned_quantiles_certificate_and_hand_bins(spark):
    from ner_backend_spark.spark.quantiles import binned_quantiles

    # group g: values 0..99 -> bins 0..9 with width 10, 10 per bin;
    # p=0.5 -> k=50 -> first bin with cum >= 50 is bin 4 -> [40, 50)
    rows = [("g", float(v)) for v in range(100)] + [("h", 7.0), ("h", None)]
    df = spark.createDataFrame(rows, "grp string, value double")
    got = {
        (r["grp"], r["p"]): (r["q_lo"], r["q_hi"])
        for r in binned_quantiles(
            df, "grp", "value", [0.25, 0.5, 0.99], bin_width=10.0
        ).collect()
    }
    assert got[("g", 0.5)] == (40.0, 50.0), got
    assert got[("g", 0.25)] == (20.0, 30.0), got
    assert got[("g", 0.99)] == (90.0, 100.0), got
    # NULLs excluded from n; single-value group certifies its own bin
    assert got[("h", 0.5)] == (0.0, 10.0), got
    # certificate property: the exact quantile lies inside [q_lo, q_hi)
    import numpy as np

    vals = np.arange(100.0)
    for p in (0.25, 0.5, 0.99):
        exact = np.quantile(vals, p)
        lo, hi = got[("g", p)]
        assert lo <= exact < hi, (p, exact, lo, hi)


def test_binned_quantiles_sketch_merges(spark):
    from ner_backend_spark.spark.quantiles import binned_quantiles

    # histogram mergeability: quantiles over the UNION equal quantiles
    # computed from the two halves' merged bin counts — here verified
    # end-to-end by splitting the input arbitrarily (partitioning cannot
    # change the answer because bin counts add)
    import random

    rng = random.Random(5)
    vals = [rng.uniform(0, 1000) for _ in range(2000)]
    whole = spark.createDataFrame(
        [("g", v) for v in vals], "grp string, value double"
    )
    a = spark.createDataFrame(
        [("g", v) for v in vals[:777]], "grp string, value double"
    )
    b = spark.createDataFrame(
        [("g", v) for v in vals[777:]], "grp string, value double"
    )
    ps = [0.1, 0.5, 0.9]
    got_whole = {
        r["p"]: (r["q_lo"], r["q_hi"])
        for r in binned_quantiles(whole, "grp", "value", ps, 25.0).collect()
    }
    got_union = {
        r["p"]: (r["q_lo"], r["q_hi"])
        for r in binned_quantiles(
            a.union(b), "grp", "value", ps, 25.0
        ).collect()
    }
    assert got_whole == got_union
