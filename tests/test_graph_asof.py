"""Graph analytics (degrees / PageRank / co-occurrence) + as-of join.

PageRank ground truth is an independent dense NumPy power iteration;
as-of ground truth is a brute-force per-row argmax — both deliberately
different formulations from the Spark plans they check (and from the
DuckDB oracles in __spark_entry__.py).
"""

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F

from ner_backend_spark.spark.asof import asof_join
from ner_backend_spark.spark.graph import (
    cooccurring_pairs,
    degrees,
    pagerank,
    symmetric_edges,
)

TRIPLES = [
    # two pages sharing entity B; page3 isolated with its own entity
    ("page1", "HAS_X", "A"),
    ("page1", "HAS_X", "B"),
    ("page2", "HAS_X", "B"),
    ("page2", "HAS_Y", "C"),
    ("page3", "HAS_X", "D"),
    ("page3", "HAS_X", "D"),  # duplicate triple: must not double-count
]


@pytest.fixture(scope="module")
def triples(spark):
    return spark.createDataFrame(TRIPLES, "subj string, pred string, obj string")


def test_degrees(triples):
    got = {
        (r.pred, r.obj): r.n_subj for r in degrees(triples).collect()
    }
    assert got == {
        ("HAS_X", "A"): 1,
        ("HAS_X", "B"): 2,
        ("HAS_Y", "C"): 1,
        ("HAS_X", "D"): 1,
    }


def _numpy_pagerank(edges, iters=3, d=0.85):
    nodes = sorted({n for e in edges for n in e})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    adj = np.zeros((n, n))
    for s, t in edges:
        adj[idx[s], idx[t]] = 1.0
        adj[idx[t], idx[s]] = 1.0
    outdeg = adj.sum(axis=1)
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = adj.T @ (r / outdeg)
        r = (1 - d) / n + d * contrib
    return {nodes[i]: r[i] for i in range(n)}


def test_pagerank_matches_dense_numpy(triples):
    sym = symmetric_edges(triples)
    got = {r.node: r.rank for r in pagerank(sym, iters=3).collect()}
    want = _numpy_pagerank([(s, o) for s, _, o in TRIPLES])
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-12)
    # probability mass is conserved (no dangling nodes after symmetrize)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    # B is referenced by two pages -> strictly more important than A
    assert got["B"] > got["A"]


def test_cooccurrence_counts_and_cap(spark, triples):
    got = {
        (r.obj_a, r.obj_b): r.n_subj
        for r in cooccurring_pairs(triples).collect()
    }
    # page1: {A,B}; page2: {B,C}; page3: {D} alone
    assert got == {("A", "B"): 1, ("B", "C"): 1}

    # hub page with 30 objects, cap 5 -> exactly C(5,2)=10 pairs from the
    # 5 lexicographically smallest objects
    hub = spark.createDataFrame(
        [("hub", "HAS", f"e{i:02d}") for i in range(30)],
        "subj string, pred string, obj string",
    )
    pairs = cooccurring_pairs(hub, max_per_subj=5).collect()
    assert len(pairs) == 10
    objs = {o for r in pairs for o in (r.obj_a, r.obj_b)}
    assert objs == {f"e{i:02d}" for i in range(5)}


def _ts(m):
    return dt.datetime(2024, 1, 1, 0, m)


def test_asof_join_inclusive_strict_and_missing(spark):
    left = spark.createDataFrame(
        [(1, "u1", _ts(10)), (2, "u1", _ts(5)), (3, "u2", _ts(1)),
         (4, "u3", _ts(30))],
        "event_id long, user_id string, ts timestamp",
    )
    right = spark.createDataFrame(
        [("u1", _ts(5), 50.0), ("u1", _ts(8), 80.0), ("u2", _ts(2), 20.0)],
        "user_id string, ts timestamp, v double",
    )
    inc = {
        r.event_id: r.v
        for r in asof_join(
            left, right, on="user_id", left_ts="ts", right_ts="ts"
        ).collect()
    }
    # event2 at t=5 matches the equal-ts right row (inclusive)
    assert inc == {1: 80.0, 2: 50.0, 3: None, 4: None}

    strict = {
        r.event_id: r.v
        for r in asof_join(
            left, right, on="user_id", left_ts="ts", right_ts="ts",
            inclusive=False,
        ).collect()
    }
    # event2's equal-ts right row is now excluded -> no earlier row exists
    assert strict == {1: 80.0, 2: None, 3: None, 4: None}


def test_asof_join_matches_bruteforce(spark):
    rng = np.random.RandomState(7)
    left_rows = [
        (i, f"u{rng.randint(5)}", _ts(int(rng.randint(60))))
        for i in range(200)
    ]
    right_rows = [
        (f"u{rng.randint(5)}", _ts(int(rng.randint(60))), float(i))
        for i in range(100)
    ]
    # dedup right per (key, ts): keep max v, the documented precondition
    best = {}
    for k, t, v in right_rows:
        best[(k, t)] = max(v, best.get((k, t), v))
    right_rows = [(k, t, v) for (k, t), v in sorted(best.items())]

    left = spark.createDataFrame(
        left_rows, "event_id long, user_id string, ts timestamp"
    )
    right = spark.createDataFrame(
        right_rows, "user_id string, ts timestamp, v double"
    )
    got = {
        r.event_id: r.v
        for r in asof_join(
            left, right, on="user_id", left_ts="ts", right_ts="ts"
        ).collect()
    }
    for eid, k, t in left_rows:
        cands = [(rt, v) for rk, rt, v in right_rows if rk == k and rt <= t]
        want = max(cands)[1] if cands else None
        assert got[eid] == want, (eid, k, t)


def test_asof_join_collision_raises(spark):
    df = spark.createDataFrame(
        [("u1", _ts(1), 1.0)], "user_id string, ts timestamp, v double"
    )
    with pytest.raises(ValueError, match="collide"):
        asof_join(df, df, on="user_id", left_ts="ts", right_ts="ts")


def test_asof_single_shuffle_plan(spark):
    """The union-trick plan must contain exactly ONE exchange (the window
    partitioning) and NO join operator — the structural property that
    makes it linear per key at 100 TB."""
    left = spark.createDataFrame(
        [(1, "u1", _ts(1))], "event_id long, user_id string, ts timestamp"
    )
    right = spark.createDataFrame(
        [("u1", _ts(1), 1.0)], "user_id string, ts timestamp, v double"
    )
    plan = (
        asof_join(left, right, on="user_id", left_ts="ts", right_ts="ts")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_triangle_count_matches_bruteforce(spark):
    import itertools

    from ner_backend_spark.spark.graph import triangle_count

    # hub node h connected to 10 nodes (star: no triangles) + a clique
    # of 5 (C(5,3)=10 triangles) + one triangle through the hub
    edges = [("h", f"s{i}") for i in range(10)]
    edges += [
        (f"c{i}", f"c{j}") for i in range(5) for j in range(i + 1, 5)
    ]
    edges += [("h", "t1"), ("h", "t2"), ("t1", "t2")]
    # noise: duplicates, reversed copies, self-loop
    edges += [("c1", "c0"), ("h", "s0"), ("x", "x")]
    adj = set()
    for a, b in edges:
        if a != b:
            adj.add((min(a, b), max(a, b)))
    nodes = sorted({n for e in adj for n in e})
    want = sum(
        1
        for a, b, c in itertools.combinations(nodes, 3)
        if (a, b) in adj and (a, c) in adj and (b, c) in adj
    )
    assert want == 11
    df = spark.createDataFrame(edges, "src string, dst string")
    got = triangle_count(df).collect()[0]["n_triangles"]
    assert got == want


def test_triangle_count_empty_and_acyclic(spark):
    from ner_backend_spark.spark.graph import triangle_count

    path = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    assert triangle_count(path).collect()[0]["n_triangles"] == 0


def test_clustering_coefficient_matches_bruteforce(spark):
    import itertools

    from ner_backend_spark.spark.graph import clustering_coefficient

    # clique of 4 (lcc=1 everywhere) + a pendant off c0 + the hub/star
    # noise from the triangle test (star: lcc=0 at leaves)
    edges = [(f"c{i}", f"c{j}") for i in range(4) for j in range(i + 1, 4)]
    edges += [("c0", "p"), ("h", "s0"), ("h", "s1"), ("s0", "s0")]
    adj = set()
    for a, b in edges:
        if a != b:
            adj.add((min(a, b), max(a, b)))
    nbrs = {}
    for a, b in adj:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    want = {}
    for n, ns in nbrs.items():
        tri = sum(
            1
            for u, v in itertools.combinations(sorted(ns), 2)
            if (min(u, v), max(u, v)) in adj
        )
        deg = len(ns)
        lcc = round(2.0 * tri / (deg * (deg - 1)), 6) if deg >= 2 else 0.0
        want[n] = (deg, tri, lcc)
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["node"]: (r["deg"], r["n_tri"], r["lcc"])
        for r in clustering_coefficient(df).collect()
    }
    assert got == want
    assert got["c0"][2] == round(2 * 3 / (4 * 3), 6)  # clique + pendant
    assert got["p"] == (1, 0, 0.0)


def test_pmi_pairs_matches_python(spark):
    """pmi/npmi equal an independent computation over capped page-object
    sets, including the every-page pair npmi=1.0 branch."""
    import math

    from ner_backend_spark.spark.graph import pmi_pairs

    pages = {
        "p1": {"a", "b", "c"},
        "p2": {"a", "b"},
        "p3": {"a", "b", "d"},
        "p4": {"d", "e"},
    }
    triples = spark.createDataFrame(
        [(p, "HAS_X", o) for p, objs in pages.items() for o in sorted(objs)],
        "subj string, pred string, obj string",
    )
    got = {
        (r["obj_a"], r["obj_b"]): r
        for r in pmi_pairs(triples, max_per_subj=20).collect()
    }
    n = len(pages)
    marg = {
        o: sum(1 for s in pages.values() if o in s)
        for s in pages.values()
        for o in s
    }
    for (x, y), r in got.items():
        n_ab = sum(1 for s in pages.values() if x in s and y in s)
        assert r["n_ab"] == n_ab
        pmi = math.log(n_ab * n / (marg[x] * marg[y]))
        assert abs(r["pmi"] - round(pmi, 6)) < 2e-6
        if n_ab == n:
            assert r["npmi"] == 1.0
        else:
            assert abs(r["npmi"] - round(pmi / -math.log(n_ab / n), 6)) < 2e-6
    # (d,e) appear together beyond chance -> positive association
    assert got[("d", "e")]["pmi"] > 0
    # (a,c): joint exactly at independence (1*4 vs 3*... ) -> pmi ln(4/3) > 0
    # while (b,d) co-occur once but both are common -> below chance
    assert got[("b", "d")]["pmi"] < 0

    # every-page pair exercises the npmi=1.0 guard (−ln(n_ab/N) = 0)
    allp = spark.createDataFrame(
        [("p1", "T", "x"), ("p1", "T", "y"), ("p2", "T", "x"), ("p2", "T", "y")],
        "subj string, pred string, obj string",
    )
    rows = {(r["obj_a"], r["obj_b"]): r for r in pmi_pairs(allp).collect()}
    assert rows[("x", "y")]["npmi"] == 1.0 and rows[("x", "y")]["pmi"] == 0.0


def test_kcore_matches_bruteforce(spark, fixpoint_paths):
    from ner_backend_spark.spark.graph import kcore

    # 4-clique (3-core) + a pendant + a triangle bridged to the clique
    # by ONE edge (the bridge dies at k=2? no - triangle keeps deg 2)
    edges = [(f"c{i}", f"c{j}") for i in range(4) for j in range(i + 1, 4)]
    edges += [("c0", "p"), ("t1", "t2"), ("t2", "t3"), ("t3", "t1"),
              ("c1", "t1"), ("x", "x")]
    df = spark.createDataFrame(edges, "src string, dst string")

    def peel(pairs, k):
        es = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
        while True:
            deg = {}
            for a, b in es:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            keep = {n for n, d in deg.items() if d >= k}
            nxt = {(a, b) for a, b in es if a in keep and b in keep}
            if nxt == es:
                break
            es = nxt
        deg = {}
        for a, b in es:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        return deg

    # and a random graph on unpadded string ids, whose string order is not
    # their number order ("n10" < "n9")
    import random

    rng = random.Random(29)
    rand = [(f"n{rng.randrange(25)}", f"n{rng.randrange(25)}") for _ in range(70)]
    rdf = spark.createDataFrame(rand, "src string, dst string")
    for _ in fixpoint_paths:
        for g, gdf in ((edges, df), (rand, rdf)):
            for k in (2, 3):
                want = peel(g, k)
                got = {r["node"]: r["deg"] for r in kcore(gdf, k=k).collect()}
                assert got == want, (k, got, want)
    # k=3: pendant, triangle and bridge all peel away; the clique stays
    assert set(peel(edges, 3)) == {"c0", "c1", "c2", "c3"}


def test_kcore_empty_result(spark, fixpoint_paths):
    from ner_backend_spark.spark.graph import kcore

    path = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    for _ in fixpoint_paths:
        assert kcore(path, k=2).count() == 0


def test_neighbor_jaccard_hand_graph(spark):
    # triangle 1-2-3 plus pendant 3-4; capped lists are the full lists.
    # profiles (centers listing x): 1<-{2,3}, 2<-{1,3}, 3<-{1,2,4}, 4<-{3}
    from ner_backend_spark.spark.graph import neighbor_jaccard

    df = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "src long, dst long"
    )
    got = {
        (r["node_a"], r["node_b"]): (r["n_common"], r["jaccard"])
        for r in neighbor_jaccard(df, max_per_node=20).collect()
    }
    assert got == {
        (1, 2): (1, 0.333333),  # round(1/3, 6)
        (1, 3): (1, 0.25),
        (2, 3): (1, 0.25),
        (1, 4): (1, 0.5),
        (2, 4): (1, 0.5),
    }, got


def test_neighbor_jaccard_cap_bounds_hub(spark):
    # a 100-leaf star: capped at K=5 the center's list is its 5 smallest
    # leaves, so pair output is bounded at K(K-1)/2 = 10 rows — never
    # deg(hub)^2/2 = 4950
    from ner_backend_spark.spark.graph import neighbor_jaccard

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 101)], "src long, dst long"
    )
    rows = neighbor_jaccard(star, max_per_node=5).collect()
    assert len(rows) == 10
    # every pair: both leaves listed only by the hub -> jaccard 1.0
    assert all(r["jaccard"] == 1.0 and r["n_common"] == 1 for r in rows)


def test_label_propagation_two_cliques_bridge(spark):
    # two 4-cliques joined by one bridge edge: after 3 sync rounds each
    # clique converges to its min member's label (mode with smallest-
    # label tie-break), bridge notwithstanding
    from ner_backend_spark.spark.graph import label_propagation

    cliq1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    cliq2 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    edges = spark.createDataFrame(
        cliq1 + cliq2 + [(3, 10)], "src long, dst long"
    )
    got = {
        r["node"]: r["label"]
        for r in label_propagation(edges, iters=3).collect()
    }
    assert {got[n] for n in range(4)} == {0}
    assert {got[n] for n in range(11, 14)} == {10}


def test_label_propagation_matches_pure_python(spark):
    # random graph vs a literal single-threaded reimplementation of the
    # documented semantics (mode over neighbor labels, min tie-break,
    # fixed sync rounds)
    import random
    from collections import Counter

    from ner_backend_spark.spark.graph import label_propagation

    rng = random.Random(99)
    raw = {(rng.randrange(40), rng.randrange(40)) for _ in range(80)}
    und = {(min(a, b), max(a, b)) for a, b in raw if a != b}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    labels = {n: n for n in adj}
    for _ in range(3):
        nxt = {}
        for n, nbrs in adj.items():
            cnt = Counter(labels[m] for m in nbrs)
            top = max(cnt.values())
            nxt[n] = min(l for l, c in cnt.items() if c == top)
        labels = nxt

    edges = spark.createDataFrame(sorted(und), "src long, dst long")
    got = {
        r["node"]: r["label"]
        for r in label_propagation(edges, iters=3).collect()
    }
    assert got == labels


def _py_truss(edges, k):
    """Literal single-threaded peel of the documented truss semantics."""
    es = set(edges)
    sup = {}
    while True:
        adj = {}
        for a, b in es:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        sup = {(a, b): len(adj[a] & adj[b]) for a, b in es}
        nxt = {e for e in es if sup[e] >= k - 2}
        if nxt == es:
            break
        es = nxt
    return {(a, b): sup[(a, b)] for a, b in es}


def test_truss_hand_graph_and_cascade(spark):
    from ner_backend_spark.spark.graph import truss

    # K4 (every edge in 2 triangles) + lone triangle (support 1 each)
    # + pendant edge (support 0)
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    tri = [(10, 11), (10, 12), (11, 12)]
    pend = [(20, 21)]
    df = spark.createDataFrame(k4 + tri + pend, "src long, dst long")
    got3 = {
        (r["node_a"], r["node_b"]): r["support"]
        for r in truss(df, k=3).collect()
    }
    want3 = {tuple(e): 2 for e in k4}
    want3.update({tuple(e): 1 for e in tri})
    assert got3 == want3, got3  # pendant gone, triangle + K4 stay
    got4 = {
        (r["node_a"], r["node_b"]): r["support"]
        for r in truss(df, k=4).collect()
    }
    assert got4 == {tuple(e): 2 for e in k4}, got4  # only K4 survives

    # cascade: two triangles sharing edge (2,3) — at k=4 the shared edge
    # starts at support 2 but must STILL peel once its triangles' other
    # edges (support 1) drop; a single-pass filter would keep it
    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (2, 4)], "src long, dst long"
    )
    assert truss(chain, k=4).count() == 0


def test_truss_matches_pure_python(spark, fixpoint_paths):
    import random

    from ner_backend_spark.spark.graph import truss

    rng = random.Random(17)
    raw = {(rng.randrange(30), rng.randrange(30)) for _ in range(120)}
    und = sorted({(min(a, b), max(a, b)) for a, b in raw if a != b})
    df = spark.createDataFrame(und, "src long, dst long")
    # the same graph on unpadded string ids, whose order differs ("n10" <
    # "n9"), given in both directions
    sund = sorted({tuple(sorted((f"n{a}", f"n{b}"))) for a, b in und})
    sdf = spark.createDataFrame(
        [(f"n{b}", f"n{a}") for a, b in und], "src string, dst string"
    )
    empty = spark.createDataFrame([], "src long, dst long")
    for _ in fixpoint_paths:
        for g, gdf in ((und, df), (sund, sdf)):
            for k in (2, 3, 4):
                want = _py_truss(g, k)
                got = {
                    (r["node_a"], r["node_b"]): r["support"]
                    for r in truss(gdf, k=k).collect()
                }
                assert got == want, k

        assert [truss(empty, k=k).count() for k in (2, 3)] == [0, 0]


def test_ppr_matches_dense_numpy(spark):
    import numpy as np

    from ner_backend_spark.spark.graph import personalized_pagerank

    rng = np.random.RandomState(3)
    pairs = {
        (int(a), int(b))
        for a, b in rng.randint(0, 25, size=(60, 2))
        if a != b
    }
    und = sorted({(min(a, b), max(a, b)) for a, b in pairs})
    # symmetrized distinct edge input (the pagerank/ppr contract)
    sym = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(sorted(sym), "src long, dst long")

    nodes = sorted({n for e in und for n in e})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    adj = np.zeros((n, n))
    for a, b in und:
        adj[idx[a], idx[b]] = 1.0
        adj[idx[b], idx[a]] = 1.0
    outdeg = adj.sum(axis=1)
    seeds = nodes[:2]
    tele = np.zeros(n)
    for s in seeds:
        tele[idx[s]] = 1.0 / len(seeds)
    d = 0.85
    r = tele.copy()
    for _ in range(3):
        contrib = adj.T @ (r / outdeg)
        r = (1 - d) * tele + d * contrib

    got = {
        row["node"]: row["rank"]
        for row in personalized_pagerank(df, n_seeds=2, iters=3).collect()
    }
    assert set(got) == set(nodes)
    for node in nodes:
        assert got[node] == pytest.approx(r[idx[node]], abs=1e-12), node


def test_ppr_mass_stays_near_seeds(spark):
    from ner_backend_spark.spark.graph import personalized_pagerank

    # two disconnected 3-cliques; seeds (2 smallest ids) are both in the
    # first -> the second clique receives ZERO rank (no teleport, no path)
    c1 = [(a, b) for a in range(3) for b in range(3) if a != b]
    c2 = [(a, b) for a in range(10, 13) for b in range(10, 13) if a != b]
    df = spark.createDataFrame(c1 + c2, "src long, dst long")
    got = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(df, n_seeds=2, iters=3).collect()
    }
    assert all(got[n] == 0.0 for n in (10, 11, 12)), got
    assert all(got[n] > 0.0 for n in (0, 1, 2)), got
    # walk mass is conserved within the seed component
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-12)


def test_graph_summary_hand_graph(spark):
    from ner_backend_spark.spark.graph import graph_summary

    # K3 (a,b,c) + pendant (c,d), with a duplicate and a reversed edge
    # and a self-loop that must all collapse
    df = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "c"), ("b", "c"), ("c", "d"),
         ("d", "d"), ("a", "b")],
        "src string, dst string",
    )
    r = graph_summary(df).collect()[0]
    # 4 nodes, 4 edges, degs: a=2 b=2 c=3 d=1 -> max 3, avg 8/4=2.0,
    # density 8/(4*3)=0.666667
    assert (r["n_nodes"], r["n_edges"], r["max_deg"]) == (4, 4, 3)
    assert r["avg_deg"] == 2.0
    assert r["density"] == round(8 / 12, 6)
