"""Physical-plan contracts for the round-5 operators (verdict r5 #3).

The as-of join, PageRank and exact-quantile operators carry their
100-TB story in docstrings ("ONE shuffle", "one Exchange per
iteration", "a single sort"); these tests pin those claims to the
executed physical plan the same way tests/test_skew_and_plans.py pins
pushdown/broadcast/single-scan for the TPC-H and curation queries.
"""

from pyspark.sql import functions as F

from ner_backend_spark.spark import graph, kg
from ner_backend_spark.spark.asof import asof_join
from ner_backend_spark.spark.quantiles import group_quantiles


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_asof_join_single_exchange(spark):
    """The union-trick as-of join must plan exactly ONE exchange (the
    window hash partition on the key) and ONE sort — never a
    join-then-argmax shape (which would add a second exchange for the
    right side and a per-key quadratic join)."""
    left = spark.range(100).select(
        (F.col("id") % 10).alias("k"),
        (F.col("id") * 7).alias("lts"),
        F.col("id").alias("x"),
    )
    right = spark.range(50).select(
        (F.col("id") % 10).alias("k"),
        (F.col("id") * 13).alias("rts"),
        (F.col("id") * 2).alias("v"),
    )
    plan = _plan(asof_join(left, right, "k", "lts", "rts", ["v"]))
    assert plan.count("Exchange") == 1  # includes any BroadcastExchange
    assert plan.count("Sort ") == 1
    assert "SortMergeJoin" not in plan and "HashJoin" not in plan


def test_group_quantiles_single_sort(spark):
    """Rank-interpolation quantiles: ONE global sort (the window),
    the rank-target table joined as a BROADCAST (never a shuffled join
    of the ranked data against targets), and any number of probability
    points sharing that single sort."""
    df = spark.range(1000).select(
        (F.col("id") % 7).alias("g"), (F.col("id") * 3.7).alias("v")
    )
    plan = _plan(group_quantiles(df, "g", "v", [0.25, 0.5, 0.9, 0.99]))
    assert plan.count("Sort ") == 1
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pagerank_per_iteration_plan_is_constant(spark):
    """PageRank's per-iteration plan must be O(1): each iteration cuts
    lineage (lazy localCheckpoint), so every iteration's rank update
    plans the same bounded number of exchanges (the contrib groupBy +
    at most one join-side exchange) regardless of the iteration index,
    and the returned frame's plan is checkpoint-rooted (no re-execution
    of the whole chain per action). An implementation without the cuts
    plans O(iters) exchanges in the final frame (measured 15 at
    iters=2) and O(2^iters) logical nodes."""
    edges = spark.range(200).select(
        (F.col("id") % 20).alias("src"), ((F.col("id") * 3) % 20).alias("dst")
    )
    plans = []
    orig = graph._materialize

    def spy(df, eager=False):
        plans.append(_plan(df))
        return orig(df, eager=eager)

    graph._materialize = spy
    try:
        pr = graph.pagerank(edges, iters=3)
    finally:
        graph._materialize = orig
    # first three materializations are the shared e/ed/nodes frames;
    # the last three are the per-iteration rank updates
    iter_plans = plans[-3:]
    counts = [p.count("Exchange hashpartitioning") for p in iter_plans]
    assert all(c <= 2 for c in counts), counts
    # the final returned plan is checkpoint-rooted: zero exchanges
    assert _plan(pr).count("Exchange") == 0


def test_bloom_filter_bits_broadcast(spark):
    """The Bloom bit table (≤ m_bits rows by construction) reaches the
    probe side as ONE packed literal: the probe (corpus vocabulary) never
    joins, shuffles or explodes. This is the whole scale argument for
    bloom_decontaminate vs the exact-gram broadcast join."""
    from ner_backend_spark.spark.sketches import bloom_bits, bloom_contains

    members = spark.createDataFrame([(f"m{i}",) for i in range(50)], ["v"])
    keys = spark.createDataFrame([(f"k{i}",) for i in range(200)], ["key"])
    out = keys.filter(bloom_contains(bloom_bits(members, "v"), F.col("key")))
    plan = _plan(out)
    assert "Join" not in plan and "Exchange" not in plan, plan
    assert "Generate" not in plan, plan
    # 65,536 bits packed 8 to a byte appear once, not once per salt
    assert len(plan) < 32 * 1024, len(plan)


def test_pack_sequences_no_global_window(spark):
    """The distributed prefix sum must never plan a single-partition
    sort over the DATA: the intra-chunk window is hash-partitioned on
    the chunk id, the only SinglePartition exchange is the chunk-TOTALS
    prefix window (chunk-count rows, executor-sized by construction),
    and the per-chunk offsets come back via a broadcast join. The naive
    global window (the DuckDB oracle) plans ONE SinglePartition exchange
    over every row — the 100-TB bottleneck this module exists to avoid."""
    from ner_backend_spark.spark.packing import pack_sequences

    docs = spark.range(500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 17 + 1).alias("n_tok")
    )
    plan = _plan(pack_sequences(docs, "doc_id", "n_tok", 512, chunk=128))
    assert "hashpartitioning(_chunk" in plan, plan
    # exactly one SinglePartition exchange — above the chunk totals
    # aggregate, never above the base rows
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_event_funnel_levels_compute_once(spark):
    """The chained min-after-timestamp funnel must never sort or
    collect_list per-user event lists (a celebrity user's events must
    not fit one task), and its level frames (v, c) carry lineage cuts:
    without them the plan tree duplicates the v subplan three times and
    c twice — six aggregates and six events scans, only partially
    deduplicated by runtime exchange reuse. Cut, the final plan holds
    exactly ONE events scan and ONE aggregate (the purchase level); the
    view/click levels live behind checkpointed RDD scans and compute
    exactly once each. The SMJ sorts the final emit joins plan are over
    USER-sized level frames (linear, co-keyed), not event lists."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod._q_event_funnel(spark, "/root/testdata/sf0.001"))
    assert plan.count("partial_min") == 1, plan
    assert plan.count("FileScan") == 1, plan
    assert "collect_list" not in plan
    assert "CartesianProduct" not in plan


def test_bm25_single_stats_broadcast_two_scans(spark):
    """BM25's plan: term frequencies ROW-LOCAL (zero hash exchanges —
    the corpus is never exploded to a token table), corpus stats as ONE
    single-partition one-row aggregate joined back via the deliberate
    one-row broadcast cross join, and exactly the two documented scans
    (stats pass + scoring pass; a columnar re-scan beats materializing
    a corpus-sized token array)."""
    from ner_backend_spark.spark.textstats import bm25_scores

    docs = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("alpha beta gamma doc "), F.col("id").cast("string")
        ).alias("text"),
    )
    plan = _plan(bm25_scores(docs, "doc_id", "text", ["alpha", "gamma"]))
    assert plan.count("Exchange hashpartitioning") == 0, plan
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert plan.count("Sort ") == 0, plan
    assert plan.count("Range (") == 2, plan  # the two documented scans


def test_wedge_ops_upstream_executes_once(spark):
    """clustering_coefficient and triangle_count must cut lineage on the
    shared undirected edge set (VERDICT r6 #1): the final plan is rooted
    at the checkpointed RDD, so the upstream edge plan — the full KG
    pipeline in q_kg_clustering — appears ZERO times in the executed
    plan instead of once per reference (which measured 62 s vs 5.6 s for
    kcore, which cuts)."""
    edges = spark.range(400).select(
        (F.col("id") % 23).alias("src"), ((F.col("id") * 7) % 23).alias("dst")
    )
    for fn in (graph.clustering_coefficient, graph.triangle_count):
        plan = _plan(fn(edges))
        # the Range source must not appear: every path reads the cut RDD
        assert plan.count("Range (") == 0, (fn.__name__, plan)


def test_graph_pair_ops_never_nested_loop(spark):
    """The capped co-occurrence self-join, PMI joint/marginal joins, and
    the clustering-coefficient wedge join all carry an inequality
    predicate next to an equality key; the contract is that Catalyst
    compiles them as hash/sort EQUI-joins with the inequality as a
    residual filter — never a CartesianProduct / nested-loop, whose cost
    would be quadratic in the corpus rather than the per-page cap."""
    triples = spark.createDataFrame(
        [(f"p{i % 7}", "HAS_NAME", f"e{(i * 3) % 11}") for i in range(60)],
        ["subj", "pred", "obj"],
    )
    edges = graph.cooccurring_pairs(triples, max_per_subj=20).select(
        F.col("obj_a").alias("src"), F.col("obj_b").alias("dst")
    )
    for df, bnlj_budget in (
        (graph.cooccurring_pairs(triples, max_per_subj=20), 0),
        # pmi's ONE BroadcastNestedLoopJoin is the deliberate one-row
        # crossJoin(broadcast(npages)) — O(1) build side by construction
        (graph.pmi_pairs(triples, max_per_subj=20), 1),
        (graph.clustering_coefficient(edges), 0),
        (graph.triangle_count(edges), 0),
    ):
        plan = _plan(df)
        assert "CartesianProduct" not in plan, plan
        assert plan.count("BroadcastNestedLoopJoin") <= bnlj_budget, plan


def test_ppr_per_iteration_plan_is_constant(spark):
    """Personalized PageRank shares pagerank's lineage discipline: each
    iteration's rank update plans a bounded number of exchanges
    regardless of iteration index, and the returned frame is
    checkpoint-rooted (zero exchanges — no re-execution of the chain
    per action)."""
    edges = spark.range(200).select(
        (F.col("id") % 20).alias("src"), ((F.col("id") * 3) % 20).alias("dst")
    )
    plans = []
    orig = graph._materialize

    def spy(df, eager=False):
        plans.append(_plan(df))
        return orig(df, eager=eager)

    graph._materialize = spy
    try:
        pr = graph.personalized_pagerank(edges, n_seeds=2, iters=3)
    finally:
        graph._materialize = orig
    iter_plans = plans[-3:]
    counts = [p.count("Exchange hashpartitioning") for p in iter_plans]
    assert all(c <= 2 for c in counts), counts
    assert _plan(pr).count("Exchange") == 0


def _triangle_graph(spark):
    """The circulant graph C23(1, 2): edges (i, i+1) and (i, i+2) mod 23.
    Every (i, i+1) edge closes 2 triangles and every (i, i+2) edge 1, so
    truss(k=3) keeps all 46 edges."""
    return spark.range(46).select(
        (F.col("id") % 23).alias("src"),
        ((F.col("id") % 23 + 1 + F.floor(F.col("id") / 23)) % 23)
        .cast("long")
        .alias("dst"),
    )


def test_truss_plan_checkpoint_rooted(spark, fixpoint_paths):
    """The kg.fixpoint loops (k-truss, k-core, connected components) cut
    lineage on their input and per round: each returned plan must be
    rooted at checkpointed RDDs or driver data — the upstream edge plan
    (the full KG pipeline in q_kg_truss) appears ZERO times, and no
    round's machinery re-plans into the final frame (the q_kg_clustering
    re-execution bug class). The second graph has triangles, so rows
    flow through the truss peel."""
    edges = spark.range(400).select(
        (F.col("id") % 23).alias("src"), ((F.col("id") * 7) % 23).alias("dst")
    )
    tri = _triangle_graph(spark)
    for _ in fixpoint_paths:
        for out in (
            graph.truss(edges, k=3),
            graph.kcore(edges, k=2),
            kg.connected_components(edges),
            graph.truss(tri, k=3),
        ):
            plan = _plan(out)
            assert plan.count("Range (") == 0, plan
            # final emit: bounded exchanges over the converged edge RDD,
            # never a nested loop
            assert "CartesianProduct" not in plan
            assert "BroadcastNestedLoopJoin" not in plan
        assert graph.truss(tri, k=3).count() == 46


def test_truss_round_plans_no_join(spark, monkeypatch):
    """The k-truss triangles are enumerated once, before the peel: the
    fixpoint state is the triangle rows, so every distributed round (the
    size gate at 0) is two windows — support per edge, then its minimum
    per triangle — with no join (no re-orientation, no wedge join, no
    edge⋈support join) and at most two exchanges. The first plan cut is
    the operator's input; the triangle enumeration's cut goes through
    graph.py's own import of _materialize, which the spy does not see."""
    monkeypatch.setattr(kg, "_LOCAL_ROWS", 0)
    edges = spark.range(400).select(
        (F.col("id") % 23).alias("src"), ((F.col("id") * 7) % 23).alias("dst")
    )
    for g, n_truss in ((edges, 0), (_triangle_graph(spark), 46)):
        plans = []
        orig = kg._materialize

        def spy(df, eager=True):
            plans.append(_plan(df))
            return orig(df, eager=eager)

        kg._materialize = spy
        try:
            assert len(graph.truss(g, k=3).collect()) == n_truss
        finally:
            kg._materialize = orig
        assert len(plans) >= 2, plans
        for p in plans[1:]:
            assert p.count("Join") == 0, p
            assert p.count("Exchange") <= 2, p


def test_incremental_components_plans_new_edges_once(spark, tmp_path):
    """The assignment incremental_components returns is read off the CC
    input cut and the converged stars: the new-edge plan (in a KG refresh,
    the band self-join and Jaccard scoring) runs once, inside that cut,
    and is never planned again to collect node ids."""
    path = str(tmp_path / "new_edges")
    spark.createDataFrame(
        [(2, 3), (7, 8), (8, 9)], "src long, dst long"
    ).write.parquet(path)
    new_edges = spark.read.parquet(path)
    assign = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (5, 5)], "id long, component long"
    )
    out = kg.incremental_components(assign, new_edges)
    plan = _plan(out)
    assert "Scan parquet" not in plan, plan
    assert {(r["id"], r["component"]) for r in out.collect()} == {
        (1, 1), (2, 1), (3, 1), (5, 5), (7, 7), (8, 7), (9, 7),
    }


def test_source_mix_single_corpus_scan(spark):
    """source_mix must scan the corpus exactly ONCE: the per-source
    aggregate is lineage-cut, so the final plan is checkpoint-rooted
    (zero corpus scans in the emitted plan) and the two one-row totals
    attach by broadcast — never a shuffled join, never a second pass
    over the documents."""
    from ner_backend_spark.spark.sampling import source_mix

    docs = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("w x y doc "), F.col("id").cast("string")).alias(
            "text"
        ),
        (F.col("id") % 5).cast("string").alias("source"),
    )
    plan = _plan(source_mix(docs))
    assert plan.count("Range (") == 0, plan
    assert "BroadcastNestedLoopJoin" in plan  # the one-row cross joins
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 0, plan


def test_binned_quantiles_single_scan_no_global_sort(spark):
    """The histogram-sketch quantiles must scan the corpus ONCE (the bin
    aggregate is lineage-cut and feeds both the cumulative window and
    the totals) and must never plan a SinglePartition exchange or a
    sort-merge join over the DATA — the window and joins operate on the
    bin-sized sketch, the rank targets attach by broadcast."""
    from ner_backend_spark.spark.quantiles import binned_quantiles

    df = spark.range(10_000).select(
        (F.col("id") % 7).alias("g"), (F.col("id") * 3.7).alias("v")
    )
    plan = _plan(binned_quantiles(df, "g", "v", [0.5, 0.9]))
    assert plan.count("Range (") == 0, plan  # checkpoint-rooted: one scan
    assert plan.count("Exchange SinglePartition") == 0, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_rrf_fuse_bounded_exchanges(spark):
    """RRF fusion operates on rankings, never corpora: the whole plan is
    the fuse groupBy + the per-query top-k window — two hash exchanges,
    no joins, no single-partition collapse."""
    from ner_backend_spark.spark.similarity import rrf_fuse

    a = spark.range(50).select(
        F.lit(0).cast("long").alias("query_id"),
        F.col("id").alias("neighbor_id"),
        (F.col("id") + 1).alias("rnk"),
    )
    b = spark.range(50).select(
        F.lit(0).cast("long").alias("query_id"),
        (F.col("id") + 20).alias("neighbor_id"),
        (F.col("id") + 1).alias("rnk"),
    )
    plan = _plan(rrf_fuse([a, b]))
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert plan.count("Exchange SinglePartition") == 0, plan
    assert "Join" not in plan, plan


def test_neighbor_jaccard_plan_checkpoint_rooted_equi_joins(spark):
    """neighbor_jaccard cuts lineage on the undirected edge set and the
    capped neighbor lists: the final plan is checkpoint-rooted (the
    upstream edge plan — the full KG pipeline in q_kg_jaccard — appears
    zero times), and the capped self-join compiles as an EQUI-join on
    the center key with the inequality as a residual — never a nested
    loop, whose cost would be quadratic in the corpus."""
    edges = spark.range(300).select(
        (F.col("id") % 19).alias("src"), ((F.col("id") * 5) % 19).alias("dst")
    )
    plan = _plan(graph.neighbor_jaccard(edges, max_per_node=10))
    assert plan.count("Range (") == 0, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_label_propagation_per_round_plan_is_constant(spark):
    """LPA's per-round plan must be O(1): each round cuts lineage, so
    every round's label update plans a bounded number of exchanges (the
    edge⋈label join side + the (node,label) count + the top-1 window)
    regardless of round index, and the returned frame is
    checkpoint-rooted."""
    edges = spark.range(300).select(
        (F.col("id") % 19).alias("src"), ((F.col("id") * 5) % 19).alias("dst")
    )
    plans = []
    orig = graph._materialize

    def spy(df, eager=False):
        plans.append(_plan(df))
        return orig(df, eager=eager)

    graph._materialize = spy
    try:
        out = graph.label_propagation(edges, iters=3)
    finally:
        graph._materialize = orig
    round_plans = plans[-3:]
    counts = [p.count("Exchange hashpartitioning") for p in round_plans]
    assert all(c <= 3 for c in counts), counts
    assert _plan(out).count("Exchange") == 0


def test_heavy_hitters_probe_broadcast_only(spark):
    """heavy_hitters' 100-TB claim (round-7 verdict #4, re-asserted after
    the round-8 xxhash sketch change): the d candidate probes attach via
    BROADCAST joins of the materialized sketch rows — the value stream
    itself must cross exactly ONE hash-partition exchange in the whole
    plan (the exact-verify groupBy, which runs ABOVE the candidate
    filter, so only candidate occurrences shuffle), and never a
    sort-merge or shuffled-hash join."""
    import re

    from ner_backend_spark.spark.sketches import heavy_hitters

    depth = 4
    df = spark.range(0, 5000).select(
        (F.col("id") % 50).cast("string").alias("v")
    )
    out = heavy_hitters(df, "v", theta_num=1, theta_den=100,
                        depth=depth, width=256)
    plan = _plan(out)
    assert plan.count("SortMergeJoin") == 0, plan
    assert plan.count("ShuffledHashJoin") == 0, plan
    # d broadcast builds, one per sketch row
    n_bcast = len(re.findall(r"BroadcastExchange", plan))
    assert n_bcast == depth, plan
    # exactly one plain (hash-partition) exchange: the exact-verify
    # groupBy on the value column
    n_plain_ex = len(re.findall(r"(?<!Broadcast)Exchange hashpartitioning", plan))
    assert n_plain_ex == 1, plan


def test_cosine_norms_stay_below_pair_join(spark):
    """similarity._norm's contract: the norms are per-row columns
    computed below the pair join, so each pair folds one array (the dot)
    and not three. On the optimized plans of lsh_topk and the LSH
    embedding near-duplicates, no node from the root down to the topmost
    Join (the Join's condition included, which the cosine filter is
    pushed into) holds a sqrt of an array fold; the norm projections
    below it do."""
    from ner_backend_spark.spark import similarity

    emb = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[F.sin(F.col("id") * (j + 1)).cast("float") for j in range(4)]
        ).alias("embedding"),
    )
    for df in (
        similarity.lsh_topk(emb, emb.filter("vec_id < 5"), 4, k=3),
        similarity.embedding_near_duplicates(emb, 0.5, method="lsh", dim=4),
    ):
        plan = df._jdf.queryExecution().optimizedPlan()
        assert plan.toString().count("SQRT(aggregate(") >= 2
        node = plan
        while True:
            own = node.simpleString(1000)
            assert "SQRT(aggregate(" not in own, own
            if node.nodeName() == "Join":
                break
            assert node.children().size() == 1, node.nodeName()
            node = node.children().apply(0)
