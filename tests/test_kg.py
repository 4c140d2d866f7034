"""KG layer tests: blocking, link scoring, connected components,
canonicalization, triple materialization."""

from collections import Counter
from itertools import combinations

import pytest
from pyspark.sql import functions as F

from ner_backend_spark.spark import kg

ENTITIES = [
    # (url, label, text) — NAME mentions with surface variants
    ("u1", "NAME", "Bruce Lee"),
    ("u2", "NAME", "bruce  lee"),
    ("u3", "NAME", "李小龍 (Bruce Lee)"),
    ("u4", "NAME", "Amelia O'Connell"),
    ("u5", "NAME", "Amelia OConnell"),
    ("u6", "NAME", "Jürgen Müller"),
    ("u1", "EMAIL", "brucelee@kungfu.cn"),
    ("u7", "LOCATION", "Boston"),
    ("u8", "LOCATION", "Bostn"),
]

ALIASES = [
    ("Bruce Lee", "Q16397"),
    ("李小龍 (Bruce Lee)", "Q16397"),
    ("Jürgen Müller", "Q999"),
]


@pytest.fixture(scope="module")
def entities(spark):
    df = spark.createDataFrame(ENTITIES, ["url", "label", "text"]).cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def aliases(spark):
    return spark.createDataFrame(ALIASES, ["surface", "canonical_id"])


def test_connected_components_basic(spark, fixpoint_paths):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], ["src", "dst"]
    )
    for _ in fixpoint_paths:
        comp = {r["id"]: r["component"] for r in kg.connected_components(edges).collect()}
        assert comp[1] == comp[2] == comp[3] == 1
        assert comp[10] == comp[11] == 10
        assert comp[20] == 20


def test_connected_components_chain_and_star(spark, fixpoint_paths):
    # long chain exercises multi-round convergence
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], ["src", "dst"]
    )
    for _ in fixpoint_paths:
        comp = {r["id"]: r["component"] for r in kg.connected_components(edges).collect()}
        assert set(comp.values()) == {0}
        assert len(comp) == 31


def _assert_components_match_union_find(spark, cases, path):
    # component = min node id, checked against the oracle's union-by-min
    # union-find; self-loop-only nodes keep their own id. Ids keep their
    # type, and only the driver path (``path`` of fixpoint_paths) returns
    # driver data.
    from ner_backend_spark.oracle.pyoracle import _UnionFind

    for raw in cases:
        uf = _UnionFind()
        for a, b in raw:
            uf.union(a, b)
        want = {n: uf.find(n) for e in raw for n in e}
        t = "string" if isinstance(raw[0][0], str) else "bigint"
        edges = spark.createDataFrame(raw, f"src {t}, dst {t}")
        out = kg.connected_components(edges)
        assert out.schema.simpleString() == f"struct<id:{t},component:{t}>"
        got = {r["id"]: r["component"] for r in out.collect()}
        assert got == want, raw
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert ("LocalTableScan" in plan) == (path == "local"), (path, plan)


def test_connected_components_hashmin_equivalence(spark, fixpoint_paths):
    # the cases that once compared the hash-to-min variant: chains, a
    # star with an isolated self-loop, and random graphs
    import random

    rng = random.Random(7)
    cases = [
        [(i, i + 1) for i in range(30)],                     # chain
        [(0, i) for i in range(1, 12)] + [(50, 50)],          # star + loner
        [(rng.randrange(60), rng.randrange(60)) for _ in range(90)],
        [(rng.randrange(200), rng.randrange(200)) for _ in range(120)],
        # unpadded string ids, whose order is not their number order
        # ("n10" < "n9")
        [(f"n{rng.randrange(40)}", f"n{rng.randrange(40)}") for _ in range(45)]
        + [("n9", "n10"), ("solo", "solo")],
    ]
    for path in fixpoint_paths:
        _assert_components_match_union_find(spark, cases, path)


def test_connected_components_peel1_equivalence(spark, fixpoint_paths):
    # the degree-1 peel's adversarial shapes: pendant chains (a peel
    # would remove the true-min leaf), stars (the anchor loses every
    # edge), leaf-leaf pairs, isolated self-loops, and random graphs
    import random

    rng = random.Random(13)
    cases = [
        [(i, i + 1) for i in range(30)],                      # chain
        [(5, i) for i in range(6, 18)] + [(50, 50)],          # star + loner
        [(1, 2)],                                             # single pair
        [(9, 3), (3, 4), (4, 5), (5, 3), (7, 8)],             # cycle + tails
        [(rng.randrange(60), rng.randrange(60)) for _ in range(90)],
        [(rng.randrange(300), rng.randrange(300)) for _ in range(150)],
    ]
    for path in fixpoint_paths:
        _assert_components_match_union_find(spark, cases, path)


def _chorded_chain_op(spark, op, **kw):
    # the chain with two chords under one of the three fixpoint operators
    from ner_backend_spark.spark import graph

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)] + [(0, 2), (1, 3)],
        "src long, dst long",
    )
    return {
        "components": lambda: kg.connected_components(edges, **kw),
        "kcore": lambda: graph.kcore(edges, k=2, **kw),
        "truss": lambda: graph.truss(edges, k=3, **kw),
    }[op]


@pytest.mark.parametrize("op", ["components", "kcore", "truss"])
def test_fixpoint_max_iter_exhaustion_raises(spark, op, fixpoint_paths):
    # the chain with two chords needs more than one round under every
    # operator (a k-core peel drops one end node per round; the truss
    # peel needs a second round to confirm its first), so max_iter=1 must
    # raise instead of returning a partial result — on the driver too
    run = _chorded_chain_op(spark, op, max_iter=1)
    for _ in fixpoint_paths:
        with pytest.raises(ValueError, match="did not converge in 1 rounds"):
            run()


def _jobs(spark, group, run):
    """``run()``'s result and the number of Spark jobs it launched,
    counted under a job group."""
    sc = spark.sparkContext
    spark._jsc.sc().listenerBus().waitUntilEmpty()
    sc.setJobGroup(group, group)
    try:
        out = run()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


# Spark jobs per operator on the chorded chain below the size gate
# (local[4], AQE on): the input cut, its collect and the one-partition
# scan of the driver-built result, however many rounds it takes. With the
# gate at 0 the distributed rounds took 27 (CC), 86 (k-core, one end node
# peeled per round) and 17 (truss).
SMALL_FIXPOINT_JOBS = {"components": 3, "kcore": 3, "truss": 3}


@pytest.mark.parametrize("op", ["components", "kcore", "truss"])
def test_small_fixpoint_finishes_on_driver(spark, op):
    run = _chorded_chain_op(spark, op)
    rows, jobs = _jobs(spark, f"small-{op}", lambda: run().collect())
    assert rows
    assert jobs <= SMALL_FIXPOINT_JOBS[op], (op, jobs)


def test_kcore_settles_in_one_round(spark, fixpoint_paths):
    # the first peel drops the pendant edge and every survivor keeps
    # degree 2 among the survivors, so that round is the answer: no
    # second round has to confirm it
    from ner_backend_spark.spark import graph

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src long, dst long"
    )
    for _ in fixpoint_paths:
        got = {
            r["node"]: r["deg"]
            for r in graph.kcore(edges, k=2, max_iter=1).collect()
        }
        assert got == {1: 2, 2: 2, 3: 2}


def test_lsh_blocking_proposes_similar_pairs(spark, entities, monkeypatch):
    monkeypatch.setattr(kg, "_NUM_HASHES", 12)
    monkeypatch.setattr(kg, "_BANDS", 6)
    mentions = kg.extract_mentions(entities)
    banded = kg._banded(mentions)
    pairs = kg.lsh_candidate_pairs(banded)
    scored = kg.score_links(pairs, banded, threshold=0.35)
    # map ids back to surfaces
    m = {r["mention_id"]: r["text"] for r in mentions.collect()}
    found = {
        frozenset((m[r["id_a"]], m[r["id_b"]])) for r in scored.collect()
    }
    assert frozenset(("Bruce Lee", "bruce  lee")) in found
    assert frozenset(("Amelia O'Connell", "Amelia OConnell")) in found
    assert frozenset(("Boston", "Bostn")) in found
    # dissimilar mentions must not be linked
    for pair in found:
        assert pair != frozenset(("Bruce Lee", "Jürgen Müller"))


def test_canonicalize_with_alias_dictionary(spark, entities, aliases):
    canon = kg.canonicalize(entities, aliases, threshold=0.35)
    by_text = {r["text"]: r["canonical"] for r in canon.collect()}
    # alias dictionary wins: all Bruce Lee variants -> Q16397
    assert by_text["Bruce Lee"] == "Q16397"
    assert by_text["bruce  lee"] == "Q16397"
    assert by_text["李小龍 (Bruce Lee)"] == "Q16397"
    assert by_text["Jürgen Müller"] == "Q999"
    # non-dictionary cluster canonicalizes to smallest member surface
    assert by_text["Amelia O'Connell"] == by_text["Amelia OConnell"]
    # singleton keeps itself
    assert by_text["brucelee@kungfu.cn"] == "brucelee@kungfu.cn"


# Spark jobs of build_triples(entities, None, aliases) on this fixture
# (local[4], AQE on), as measured. canonicalize derives the alias hits
# once and cuts them lazily, so the alias edges and canonical_map share
# one alias broadcast; mention_edges blocks and scores the 8 mentions on
# the driver.
KG_BUILD_ALIAS_JOBS = 17


def test_build_triples_job_count_with_aliases(spark, entities, aliases):
    rows, jobs = _jobs(
        spark, "kg-build-alias",
        lambda: kg.build_triples(entities, None, aliases).collect(),
    )
    assert rows
    assert jobs <= KG_BUILD_ALIAS_JOBS, jobs


def test_build_triples(spark, entities, aliases):
    groups = spark.createDataFrame(
        [("u1", "vip"), ("u7", "places")], ["url", "group_name"]
    )
    triples = kg.build_triples(entities, groups, aliases, threshold=0.35)
    rows = {(r["subj"], r["pred"], r["obj"]) for r in triples.collect()}
    assert ("u1", "HAS_NAME", "Q16397") in rows
    assert ("u2", "HAS_NAME", "Q16397") in rows
    assert ("u3", "HAS_NAME", "Q16397") in rows
    assert ("u1", "HAS_EMAIL", "brucelee@kungfu.cn") in rows
    assert ("u1", "IN_GROUP", "vip") in rows
    # canonicalization is exact-dedup aware: u1/u2/u3 all map to ONE object
    names = {(s, o) for s, p, o in rows if p == "HAS_NAME"}
    assert len({o for _, o in names if o == "Q16397"}) == 1


def test_write_triples_partitioned(spark, entities, tmp_path):
    triples = kg.build_triples(entities, None, None, threshold=0.35)
    path = str(tmp_path / "triples")
    kg.write_triples(triples, path, n_buckets=4)
    back = spark.read.parquet(path)
    assert back.count() == triples.count()
    # partition pruning on pred: reading one predicate touches one dir
    preds = {r["pred"] for r in back.select("pred").distinct().collect()}
    assert "HAS_NAME" in preds


def test_lsh_bucket_cap_counts_per_label(spark):
    """Mixed-label buckets must not be dropped when the join is label-scoped:
    occupancy is counted per (band, band_hash, label)."""
    from ner_backend_spark.spark import kg

    # identical NORMS under two labels -> identical trigram signatures, so
    # every band bucket holds n_A + n_B mentions but each label's join group
    # is only n_A (or n_B)
    rows = [("A", f"w{i}", "widget") for i in range(6)] + [
        ("B", f"w{i}", "widget") for i in range(6)
    ]
    mentions = spark.createDataFrame(
        rows, ["label", "text", "norm"]
    ).withColumn("mention_id", F.xxhash64("label", "text"))
    banded = kg._banded(mentions)

    uncapped = kg.lsh_candidate_pairs(banded).count()
    # cap=8: per-label occupancy is 6 <= 8, so nothing may be dropped even
    # though the mixed-label bucket holds 12
    capped = kg.lsh_candidate_pairs(banded, max_bucket_size=8).count()
    assert capped == uncapped
    # cap=3 drops the oversized per-label groups entirely
    assert kg.lsh_candidate_pairs(banded, max_bucket_size=3).count() == 0


def test_chunked_pair_generation_equals_plain(spark, monkeypatch):
    """Hot-bucket chunked self-join proposes EXACTLY the plain join's pairs."""
    rows = (
        # template surfaces -> one giant trigram-similar bucket
        [(f"u{i}", "EMAIL", f"user{i}@example.com") for i in range(300)]
        # plus small organic clusters
        + [("a", "ORG", "acme corp"), ("b", "ORG", "acme corp."),
           ("c", "ORG", "initech")]
    )
    ents = spark.createDataFrame(rows, "url string, label string, text string")
    banded = kg._banded(kg.extract_mentions(ents))

    def pairset(threshold, groups=kg._CHUNK_GROUPS):
        monkeypatch.setattr(kg, "_CHUNK_THRESHOLD", threshold)
        monkeypatch.setattr(kg, "_CHUNK_GROUPS", groups)
        return {
            (r["id_a"], r["id_b"])
            for r in kg.lsh_candidate_pairs(banded).collect()
        }

    plain = pairset(10**9)
    chunked = pairset(16, 4)
    assert chunked == plain
    assert len(plain) > 1000  # the template bucket really is quadratic

    # bucket_pairs itself: its pair MULTISET (one pair per shared bucket,
    # which keeps winnowing's n_shared exact) equals a per-bucket
    # enumeration, with one hot bucket taking the chunked path and one
    # over the cap, for long ids and for string ids whose order is not
    # their numbers' order
    monkeypatch.setattr(kg, "_CHUNK_THRESHOLD", 16)
    monkeypatch.setattr(kg, "_CHUNK_GROUPS", 4)
    buckets = {
        ("a", 0): range(40),  # hot: over the lowered threshold
        ("a", 1): range(100, 160),  # over the cap of 50
        ("b", 0): range(10),  # shares pairs with ("a", 0)
        **{("c", i): range(i, i + 6) for i in range(5)},  # overlapping
    }
    for cast, id_type in ((int, "long"), (lambda i: f"n{i}", "string")):
        df = spark.createDataFrame(
            [(t, b, cast(i)) for (t, b), ids in buckets.items() for i in ids],
            f"t string, b int, id {id_type}",
        )
        for cap in (None, 50):
            want = Counter(
                pair
                for ids in buckets.values()
                if cap is None or len(ids) <= cap
                for pair in combinations(sorted(cast(i) for i in ids), 2)
            )
            got = Counter(
                (r["id_a"], r["id_b"])
                for r in kg.bucket_pairs(df, ["t", "b"], "id", cap).collect()
            )
            assert got == want, (id_type, cap)
            assert max(want.values()) > 1


def test_incremental_kg_bucket_cap_equals_batch(spark, tmp_path):
    """A bucket over the cap from the first batch on is dropped by every
    batch, so the capped incremental canonical map equals the capped
    batch canonicalize."""
    from ner_backend_spark.streaming.kg_update import IncrementalKg

    # one norm, five spellings: every band bucket of "widget" holds all of
    # them, over the cap of 3 already in batch 0
    rows = [(f"w{i}", "TOOL", t) for i, t in enumerate(
        ["widget", "Widget", "WIDGET", " widget", "widget "]
    )] + [
        ("u1", "ORG", "acme corp"),
        ("u2", "ORG", "acme corp."),
        ("u3", "ORG", "initech"),
    ]
    full = spark.createDataFrame(rows, "url string, label string, text string")
    batch = {
        (r["label"], r["text"]): r["canonical"]
        for r in kg.canonicalize(full, threshold=0.4, max_bucket_size=3).collect()
    }
    inc = IncrementalKg(spark, str(tmp_path / "kg"), threshold=0.4, max_bucket_size=3)
    first = ["w0", "w1", "w2", "w3", "u1"]
    inc.process_batch(full.filter(F.col("url").isin(first)), 0)
    inc.process_batch(full.filter(~F.col("url").isin(first)), 1)
    got = {
        (r["label"], r["text"]): r["canonical"]
        for r in inc.canonical().collect()
    }
    assert got == batch
    # the cap bit: no two spellings of the widget merged ...
    widgets = [batch[("TOOL", t)] for _, label, t in rows if label == "TOOL"]
    assert len(set(widgets)) == 5
    # ... while the small acme bucket still linked across the batches
    assert batch[("ORG", "acme corp")] == batch[("ORG", "acme corp.")]


def _case_variants(word, k):
    """``k`` distinct spellings of ``word`` that normalize alike (case
    variants), so they share every band bucket."""
    return [
        "".join(c.upper() if i >> j & 1 else c for j, c in enumerate(word))
        for i in range(k)
    ]


def _seeded_entities(spark):
    # two labels of random edits of a few stems, so pairs score all over
    # the threshold range, plus 8 spellings of one norm: a bucket of 8 in
    # every band, over the cap of 5 and, lowered, the chunk threshold
    import random

    rng = random.Random(17)
    stems = ["kowalski", "ostrowska", "brandenburg", "nakamura", "oconnell"]
    rows = set()
    for _ in range(120):
        s = list(rng.choice(stems))
        for _ in range(rng.randrange(3)):
            s[rng.randrange(len(s))] = rng.choice("aeiouxyz")
        rows.add((rng.choice(["NAME", "ORG"]), "".join(s)))
    rows |= {("TOOL", t) for t in _case_variants("widget", 8)}
    return spark.createDataFrame(
        [(f"u{i}", label, text) for i, (label, text) in enumerate(sorted(rows))],
        "url string, label string, text string",
    )


def _tie_threshold(mentions):
    """A threshold some candidate pair scores exactly, so a path that
    drops ties differs from one that keeps them."""
    banded = kg._banded(mentions)
    scores = sorted(
        r["score"]
        for r in kg.score_links(
            kg.lsh_candidate_pairs(banded), banded, 0.0
        ).collect()
    )
    assert 0 < scores[len(scores) // 2] < 1
    return scores[len(scores) // 2]


EDGE_CASES = [
    "fixture", "fixture_aliases", "seeded", "seeded_capped", "chunked",
    "multibyte", "shared_band", "empty",
]


@pytest.mark.parametrize("case", EDGE_CASES)
def test_mention_edges_paths_agree(
    spark, entities, aliases, case, monkeypatch, fixpoint_paths
):
    """The driver-side blocking and scoring below the size gate gives the
    Spark path's edges: the same multiset, no duplicate, ``src long, dst
    long``."""
    hits, threshold, cap = None, 0.35, None
    if case.startswith("fixture"):
        mentions = kg.extract_mentions(entities)
        if case == "fixture_aliases":
            hits = kg.alias_candidates(mentions, aliases)
    elif case.startswith("seeded") or case == "chunked":
        mentions = kg.extract_mentions(_seeded_entities(spark))
        threshold = _tie_threshold(mentions)
        cap = 5 if case == "seeded_capped" else None
        if case == "chunked":
            monkeypatch.setattr(kg, "_CHUNK_THRESHOLD", 4)
            monkeypatch.setattr(kg, "_CHUNK_GROUPS", 3)
    else:
        rows = {
            "multibyte": [
                ("NAME", t) for t in ["李小龍", "李小龙", "李小龍 (Bruce Lee)",
                                      "Jürgen Müller", "Jurgen Muller",
                                      "Борис Ельцин", "Борис Елцин"]
            ],
            # one norm under two labels: each (band, band_hash) bucket
            # holds both labels, and only same-label pairs may come out
            "shared_band": [
                (label, t) for label in ("A", "B")
                for t in _case_variants("acme corp", 3)
            ],
            "empty": [],
        }[case]
        mentions = kg.extract_mentions(
            spark.createDataFrame(
                [("u", label, t) for label, t in rows],
                "url string, label string, text string",
            )
        )
    got = {}
    for path in fixpoint_paths:
        out = kg.mention_edges(mentions, hits, threshold, cap)
        assert out.schema.simpleString() == "struct<src:bigint,dst:bigint>"
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert ("LocalTableScan" in plan) == (path == "local"), (path, plan)
        got[path] = Counter((r["src"], r["dst"]) for r in out.collect())
    assert got["local"] == got["distributed"]
    assert all(n == 1 for n in got["local"].values())
    assert bool(got["local"]) == (case != "empty")
    label = {r["mention_id"]: r["label"] for r in mentions.collect()}
    assert all(label[a] == label[b] for a, b in got["local"] if b in label)
    if case == "shared_band":
        assert len(got["local"]) == 6  # 3 pairs per label
    if case.startswith("seeded"):
        # the 8 widget spellings pair up unless their buckets are capped
        tools = sum(label[a] == "TOOL" for a, _ in got["local"])
        assert tools == (0 if cap else 28)


def test_mention_edges_pair_bound_takes_spark_path(spark):
    """710 spellings of one norm: few mentions, but each of the 5 bands
    proposes 710 * 709 / 2 pairs, 1,258,475 in all, over the bound of
    ``_BANDS * _LOCAL_ROWS``, so the configured gate takes the Spark path
    before building a pair."""
    assert kg._BANDS * kg._LOCAL_ROWS == 1_250_000
    mentions = kg.extract_mentions(
        spark.createDataFrame(
            [("u", "NAME", t) for t in _case_variants("jankowskis", 710)],
            "url string, label string, text string",
        )
    )
    out = kg.mention_edges(mentions)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" not in plan, plan
    agg = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("src", "dst").alias("distinct"),
    ).first()
    assert agg["n"] == agg["distinct"] == 710 * 709 // 2


def test_mention_edges_signs_mentions_once(spark, monkeypatch):
    """Above the size gate the Spark path blocks and scores the
    ``_banded`` cut itself, so one SQL execution of a ``mention_edges``
    call computes the MinHash signatures, and the trigrams come from the
    same cut."""
    monkeypatch.setattr(kg, "_LOCAL_ROWS", 0)
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        spark._jsc.sc().listenerBus().waitUntilEmpty()
        listed = store.executionsList()
        return [listed.apply(i) for i in range(listed.size())]

    seen = max((x.executionId() for x in executions()), default=-1)
    mentions = kg.extract_mentions(_seeded_entities(spark))
    assert kg.mention_edges(mentions).count() > 0
    plans = [
        x.physicalPlanDescription()
        for x in executions()
        if x.executionId() > seen
    ]
    assert sum("array_min(transform(" in p for p in plans) == 1, plans
    assert sum("array_distinct(transform(sequence(" in p for p in plans) == 1, plans
