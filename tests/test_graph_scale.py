"""Stress-shape contracts for the wedge/peel graph operators (verdict r6 #7).

A synthetic power-law-ish graph — ~1M edges with a 10^4-degree hub —
through clustering_coefficient and kcore, asserting the structural
O(m^1.5) wedge bound that makes them hub-safe: the degree orientation
caps every node's oriented out-degree at O(sqrt(m)), so a celebrity
entity contributes O(m) wedge rows, never deg(hub)^2 = 10^8. The
assertions are on the MEASURED oriented out-degrees and wedge-join
cardinality (the quantities that size the shuffle), plus a CI-tolerable
wall — the test_neardup_scale.py pattern of pinning scale claims to
observable bounds rather than docstrings.
"""

import math
import time

from pyspark.sql import functions as F

from ner_backend_spark.spark import graph

HUB_DEG = 10_000
N_NODES = 50_000
N_BACKGROUND = 1_000_000


def _power_law_hub_graph(spark):
    """~1M background edges over 50k nodes (Zipf-ish src skew via an
    inverse-power map) plus one node of degree 10^4 — all generated
    executor-side from range(), no driver lists."""
    bg = spark.range(N_BACKGROUND).select(
        # u^2 map concentrates mass on low ids: a heavy-ish tail without
        # driver-side sampling; xxhash decorrelates src and dst
        (
            F.floor(
                F.pow(
                    F.pmod(F.xxhash64("id"), F.lit(N_NODES)).cast("double")
                    / N_NODES,
                    F.lit(2.0),
                )
                * N_NODES
            )
        ).alias("src"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(N_NODES)).alias("dst"),
    )
    hub = spark.range(HUB_DEG).select(
        F.lit(N_NODES + 1).cast("long").alias("src"),
        (F.col("id") % N_NODES).alias("dst"),
    )
    return bg.union(hub)


def test_wedge_ops_hub_safe_bounds(spark):
    edges = _power_law_hub_graph(spark)

    # reproduce the operator's own orientation to measure the join-sizing
    # quantities (deg/oriented are exactly what clustering_coefficient
    # and triangle_count consume)
    deg, oriented = graph._oriented_edges(graph._undirected(edges))
    m = oriented.count()
    out_deg = oriented.groupBy("lo").agg(F.count(F.lit(1)).alias("od"))
    stats = out_deg.agg(
        F.max("od").alias("max_od"),
        F.sum(F.col("od") * F.col("od")).alias("wedge_ub"),
    ).collect()[0]
    # the structural bound: max oriented out-degree <= O(sqrt(2m)); the
    # hub's 10^4 raw degree must NOT survive orientation
    assert stats["max_od"] <= 2 * math.sqrt(2 * m), (stats["max_od"], m)
    assert stats["max_od"] < HUB_DEG / 10
    # wedge-join output (the largest shuffle) is sum od^2 <= O(m^1.5),
    # orders of magnitude under the naive deg(hub)^2 blowup
    assert stats["wedge_ub"] <= 4 * m * math.sqrt(2 * m)
    assert stats["wedge_ub"] < HUB_DEG * HUB_DEG

    t0 = time.monotonic()
    lcc = graph.clustering_coefficient(edges)
    hub_row = lcc.filter(F.col("node") == N_NODES + 1).collect()
    lcc_wall = time.monotonic() - t0
    assert len(hub_row) == 1 and hub_row[0]["deg"] > 0
    assert 0.0 <= hub_row[0]["lcc"] <= 1.0

    t0 = time.monotonic()
    core = graph.kcore(edges, k=4, max_iter=50)
    n_core = core.count()
    kcore_wall = time.monotonic() - t0
    assert n_core > 0  # the dense low-id region survives a k=4 peel
    assert core.agg(F.min("deg")).collect()[0][0] >= 4

    # CI-tolerable wall on local[32]: generous vs the ~30-60 s observed,
    # but catches an O(deg_hub^2) regression (which would run for hours)
    assert lcc_wall < 300, lcc_wall
    assert kcore_wall < 300, kcore_wall


def test_truss_hub_safe_wall(spark):
    """k-truss on the same hub graph: the triangles come from the one
    degree-oriented wedge enumeration, so the same O(m^1.5) bound holds
    for the rows every peel round reads, and the peel must converge in
    few rounds at a CI-tolerable wall (an O(deg_hub^2) regression runs
    for hours).
    k=3 keeps the dense low-id region, so the assertion also covers a
    non-empty converged result with the support invariant."""
    import time

    edges = _power_law_hub_graph(spark)
    t0 = time.monotonic()
    out = graph.truss(edges, k=3, max_iter=50)
    n_edges = out.count()
    wall = time.monotonic() - t0
    assert n_edges > 0
    # truss invariant: every surviving edge closes >= k-2 triangles
    assert out.agg(F.min("support")).collect()[0][0] >= 1
    assert wall < 600, wall
