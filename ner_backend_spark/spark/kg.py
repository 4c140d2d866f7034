"""Knowledge-graph construction over the entities output.

Pipeline (new per north_star; the reference stops at entities/groups —
schema.go:129-144 — this layer canonicalizes and materializes triples):

  entities (url, label, text)
    -> mentions            distinct (label, normalized surface), stable ids
    -> alias candidates    broadcast alias-dictionary join (exact on the
                           normalized surface) — map-side, no shuffle
    -> LSH blocking        char-trigram MinHash signatures computed entirely
                           JVM-side; the bucket self-join (bucket_pairs,
                           shared with every near-duplicate operator)
                           proposes pairs (never all-pairs); under the
                           input size gate the driver collects the
                           signatures and pairs the buckets in numpy
    -> link scoring        exact trigram Jaccard on proposed pairs, in
                           numpy on the driver under the same gate
    -> connected components alternating large-star / small-star (window-min
                           form, no collect_list, so no high-degree-node
                           blowup; O(log n) rounds); an edge set under the
                           input size gate runs the same rounds in pandas
                           on the driver (one collect, no per-round jobs)
    -> canonicalization    per component: alias canonical id if any member
                           hit the dictionary, else the lexicographically
                           smallest surface
    -> triples             (subj=url, pred=HAS_<LABEL>, obj=canonical) +
                           (subj=url, pred=IN_GROUP, obj=group_name)
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

# Edge inputs of fewer rows than this run their whole graph operator in
# pandas on the driver (:func:`_cut_input`). Set below the measured
# crossover of the two paths (k-core at ~2*10^6 state rows, CC above
# 10^6, on seeded random graphs at local[4]; table in CHANGES.md): a
# k-core state is at most twice its input, a CC state at most its input.
# A two-column long input this size is ~4 MB of Arrow, far under
# spark.driver.maxResultSize. The same gate counts the mentions that
# mention_edges blocks and scores on the driver (:func:`_local_links`).
_LOCAL_ROWS = 250_000

# Buckets above this many members take bucket_pairs' chunked self-join,
# split into this many chunk groups; read at call time
_CHUNK_THRESHOLD = 256
_CHUNK_GROUPS = 32

# The LSH banding of every KG mention (band_signatures), read at call
# time; the oracle's _KG_NUM_HASHES and _KG_BANDS mirror it. 5 bands x 3
# rows collide ~97% of the time at Jaccard 0.8 (the linking regime) and
# ~13% at 0.3 — selective enough that dissimilar-surface pairs don't
# flood the downstream exact-Jaccard verification (2 rows/band collides
# 43% of the time at J=0.3).
_NUM_HASHES = 15
_BANDS = 5


def _materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize a shared subplan in a deployment-appropriate way — the
    one place the reliable-vs-local checkpoint choice is made.

    ``eager=True`` (every :func:`fixpoint` round and the loop inputs, where
    LINEAGE CUTS are the point — unbounded iteration lineage otherwise):
    with a reliable checkpoint dir configured (sc.setCheckpointDir — see
    session.get_spark's SPARK_CHECKPOINT_DIR), use ``.checkpoint()`` so an
    executor loss mid-fixpoint recomputes from fault-tolerant storage
    (VERDICT r1 "What's wrong" #4). It needs no persist around it: on
    Spark 4.1 the eager Dataset checkpoint computes its plan once and
    writes it in the same job (probed with a counting UDF: one call per
    row), so the RDD-level recompute-to-write caveat does not apply.
    Without a checkpoint dir (local[*] benches), fall back to
    ``localCheckpoint``.

    ``eager=False`` (reuse-only sites: the mentions, the alias hits, the
    entities frame consumed twice): ``localCheckpoint`` — NOT ``persist``,
    whose entry in the SQL CacheManager is held strongly and is never
    reclaimed by the ContextCleaner (verified: the entry survives del +
    gc), leaking one cache per KG query in long-lived sessions AND
    silently substituting itself into later identical plans (it turned a
    benchmark's second cold pass into a warm one). localCheckpoint is
    RDD-level: no CacheManager entry, no plan substitution, blocks
    reclaimed when the RDD reference drops. The trade: lineage truncation,
    so an executor loss during the single consuming query fails that query
    (re-run; the checkpoint/resume layer makes re-runs cheap) — the
    fixpoint rounds, where lineage cuts must survive executor loss, stay on
    the reliable eager path below.

    "Lazy" defers only the plan's last stage. Building the RDD of an
    adaptive (AQE) plan materializes its query stages, so over a plan
    with an exchange the call itself runs every shuffle map stage (and
    every broadcast) as a job; the first consuming job then runs the
    final stage and stores the blocks. Probed on Spark 4.1 at local[4]:
    the lazy cut of a groupBy ran one job at the call and the consuming
    count two; a broadcast join's lazy cut ran its broadcast at the call.
    """
    if not eager:
        return df.localCheckpoint(eager=False)
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def fixpoint(
    step: Callable[[DataFrame], DataFrame],
    state: DataFrame,
    keys: Sequence[str],
    max_iter: int,
    what: str,
    settled: Column | None = None,
) -> DataFrame:
    """Iterate ``state = step(state)`` until a round leaves it unchanged.

    The one convergence protocol of the distributed graph operators
    (connected components, k-core, k-truss). Each round's output carries
    an :class:`~pyspark.sql.Observation` of its certificate — the row count
    and the sum of ``pmod(xxhash64(keys), 1e9+7)`` over the ``keys``
    columns only, so carried payload columns (degrees, supports) never
    decide convergence — and is cut by the eager :func:`_materialize`,
    whose one action both stores the round's blocks and fills the
    observation: no separate checksum job, no SinglePartition exchange.
    The loop stops at the first round whose certificate equals the
    previous round's and returns that round's materialized state; that
    last round only confirms the one before it.

    ``settled``, when given, is a boolean aggregate over a round's output
    that holds only if the next round would change nothing (k-core: every
    survivor keeps degree >= k among the survivors). It is observed with
    the certificate, in the same action, and a round where it holds is
    returned at once, so the loop skips the confirm round.

    A state still changing after ``max_iter`` rounds raises ``ValueError``
    instead of returning a partial result (a cut-short peel overstates a
    core, a cut-short star alternation splits components).
    :func:`pandas_fixpoint` is the same loop over a pandas state.
    """
    h = F.pmod(F.xxhash64(*keys), F.lit(1_000_000_007)).cast("decimal(38,0)")
    metrics = [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(h), F.lit(0)).alias("h"),
    ]
    if settled is not None:
        metrics.append(F.coalesce(settled, F.lit(True)).alias("settled"))
    prev = None
    for _ in range(max_iter):
        obs = Observation()
        state = _materialize(step(state).observe(obs, *metrics))
        cert = obs.get
        if cert.pop("settled", False) or cert == prev:
            return state
        prev = cert
    raise ValueError(f"{what} did not converge in {max_iter} rounds")


def pandas_fixpoint(
    step: Callable[[pd.DataFrame], tuple[pd.DataFrame, bool]],
    state: pd.DataFrame,
    keys: Sequence[str],
    max_iter: int,
    what: str,
) -> pd.DataFrame:
    """:func:`fixpoint` on the driver: ``step`` returns the next state and
    whether it is settled. The loop stops at the first settled round or
    the first whose ``keys`` rows equal the previous round's, and raises
    the same ``ValueError`` after ``max_iter`` rounds, so both paths take
    the same number of rounds and fail alike."""
    keys = list(keys)
    prev = None
    for _ in range(max_iter):
        state, done = step(state)
        cur = state[keys].sort_values(keys, ignore_index=True)
        if done or (prev is not None and cur.equals(prev)):
            return state
        prev = cur
    raise ValueError(f"{what} did not converge in {max_iter} rounds")


def _cut_small(
    rows: DataFrame, refuse: Column | None = None
) -> tuple[DataFrame, pa.Table | None]:
    """Cut ``rows`` once, by the eager :func:`_materialize`, with a
    row-count ``Observation`` filled by the same job. Returns the cut and,
    when it has fewer than ``_LOCAL_ROWS`` rows and no row where
    ``refuse`` holds, its rows collected as Arrow (one more job);
    otherwise None. The gate is read at call time.

    The size gate of every driver-side operator: small inputs are bound
    by per-job overhead, not data. The driver, not one Python-kernel
    task, runs the pandas side because a worker raise would surface as a
    ``PythonException`` rather than the operator's own error, and a cold
    Python worker start costs seconds.
    """
    obs = Observation()
    metrics = [F.count(F.lit(1)).alias("n")]
    if refuse is not None:
        metrics.append(F.count(F.when(refuse, 1)).alias("refused"))
    cut = _materialize(rows.observe(obs, *metrics))
    got = obs.get
    if got["n"] >= _LOCAL_ROWS or got.get("refused"):
        return cut, None
    return cut, cut.toArrow()


def _cut_input(edges: DataFrame) -> tuple[DataFrame, pd.DataFrame | None]:
    """:func:`_cut_small` of a graph operator's (src, dst) input: the cut
    and, below the gate, its rows as pandas; otherwise None, and the
    operator runs its distributed rounds from the cut.

    A distributed operator costs several Spark jobs per round, the driver
    path two before its result, and the driver path keeps ``max_iter``
    and its ``ValueError``. An input with a null id takes the distributed
    path, whose null handling the pandas operators do not repeat.
    """
    cut, small = _cut_small(
        edges.select("src", "dst"), F.col("src").isNull() | F.col("dst").isNull()
    )
    return cut, None if small is None else small.to_pandas()


def _node_codes(edges: pd.DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(src, dst, nodes): int64 codes of a pandas edge frame's ids, in id
    order (a sorted factorize), so the pandas operators group and compare
    integers whatever the id type; ``nodes[code]`` is the id back. Python
    orders str by code point and Spark orders UTF-8 bytes, the same
    order."""
    n = len(edges)
    codes, nodes = pd.factorize(
        np.concatenate([edges["src"].to_numpy(), edges["dst"].to_numpy()]),
        sort=True,
    )
    return codes[:n].astype(np.int64), codes[n:].astype(np.int64), nodes


def _driver_frame(
    cut: DataFrame, columns: dict[str, np.ndarray], counts: Sequence[str] = ()
) -> DataFrame:
    """The pandas result of a graph operator as a DataFrame of its Spark
    path's schema: ``counts`` columns are long, the others take the input
    cut's node type (the type ``least(src, dst)`` resolves to). One
    partition, as the Spark path's small aggregates come out of AQE: a
    local relation scans as up to one partition per core, and a caller
    writing it (the refresh's assignment state) wrote that many files."""
    node = cut.select(F.least("src", "dst")).schema[0].dataType
    schema = StructType(
        [StructField(c, LongType() if c in counts else node) for c in columns]
    )
    table = pa.Table.from_pandas(pd.DataFrame(columns), preserve_index=False)
    return cut.sparkSession.createDataFrame(table, schema=schema).coalesce(1)


def normalize_surface(col):
    """Deterministic surface normalization for matching/blocking."""
    return F.regexp_replace(F.lower(F.trim(col)), r"[ \t\n\f\r]+", " ")


def extract_mentions(entities: DataFrame) -> DataFrame:
    """(mention_id, label, text, norm): distinct surfaces per label."""
    m = (
        entities.select("label", "text")
        .distinct()
        .withColumn("norm", normalize_surface(F.col("text")))
    )
    # id over the raw surface: distinct spellings stay distinct nodes; equal
    # norms produce identical trigram signatures, so LSH proposes them and
    # Jaccard scores them 1.0 — they merge through the graph, not the id.
    return m.withColumn("mention_id", F.xxhash64("label", "text"))


def _trigrams(col_name: str):
    """Distinct character 3-grams of '^'+col+'$' (pads short strings)."""
    padded = f"concat('^', {col_name}, '$')"
    return F.array_distinct(
        F.expr(
            f"transform(sequence(1, greatest(length({padded}) - 2, 1)),"
            f" i -> substring({padded}, i, 3))"
        )
    )


def with_trigrams(mentions: DataFrame) -> DataFrame:
    return mentions.withColumn("trigrams", _trigrams("norm"))


def alias_candidates(
    mentions: DataFrame, alias_df: DataFrame | None
) -> DataFrame | None:
    """(mention_id, canonical_id) via broadcast alias dictionary; None
    without a dictionary, which every consumer of the hits takes as none.

    alias_df: (surface, canonical_id) — the small curated dictionary; its
    normalized surface joins map-side against mention norms (J-new in SURVEY
    §2.7: broadcast map-side join for candidate generation).
    """
    if alias_df is None:
        return None
    alias_norm = alias_df.select(
        normalize_surface(F.col("surface")).alias("norm"),
        F.col("canonical_id"),
    )
    return mentions.join(F.broadcast(alias_norm), "norm").select(
        "mention_id", "canonical_id"
    )


def _signatures(mentions: DataFrame) -> DataFrame:
    """(mention_id, label, trigrams, signature): the ``_NUM_HASHES``
    MinHash signature of each mention's trigrams."""
    return with_trigrams(mentions).select(
        "mention_id",
        "label",
        "trigrams",
        F.array(
            *[
                F.array_min(
                    F.expr(
                        f"transform(trigrams, t -> hash(t, {i}))"
                    )
                )
                for i in range(_NUM_HASHES)
            ]
        ).alias("signature"),
    )


def _band_hashes() -> Column:
    """The ``_BANDS`` band hashes of a ``signature`` column, in band
    order, as one array expression."""
    rows_per_band = _NUM_HASHES // _BANDS
    return F.array(
        *[
            F.hash(F.slice("signature", b * rows_per_band + 1, rows_per_band))
            for b in range(_BANDS)
        ]
    )


def band_signatures(mentions: DataFrame) -> DataFrame:
    """(mention_id, label, band, band_hash): the LSH banding of each mention.

    sig[i] = array_min(transform(trigrams, t -> hash(t, i))) for
    ``_NUM_HASHES`` seeds; band_hash = hash(slice(sig, ...)) for ``_BANDS``
    bands. Pure column expressions — a mention's banding
    depends only on its own surface, which is what makes the banding table
    APPEND-ONLY under incremental construction (streaming/kg_update.py):
    new mentions' bands join against stored bands without recomputing them.
    """
    # the array is built inside the posexplode: exploding a column instead
    # makes the optimizer infer a size(array) > 0 filter and push it under
    # the mentions' distinct, where it computes every signature a second
    # time per entity row
    return _signatures(mentions).select(
        "mention_id",
        "label",
        F.posexplode(_band_hashes()).alias("band", "band_hash"),
    )


def _banded(mentions: DataFrame) -> DataFrame:
    """(mention_id, label, trigrams, bands): :func:`band_signatures` as one
    row per mention, ``bands[b]`` the hash of band ``b``, with the
    trigrams: the cut :func:`mention_edges` blocks and scores, collected
    below its gate."""
    return _signatures(mentions).select(
        "mention_id", "label", "trigrams", _band_hashes().alias("bands")
    )


def lsh_candidate_pairs(
    banded: DataFrame, max_bucket_size: int | None = None
) -> DataFrame:
    """(id_a, id_b) same-label mention pairs sharing >=1 MinHash band bucket.

    The blocking of :func:`mention_edges` above its size gate (below it,
    :func:`_local_links` pairs the same buckets on the driver), from the
    :func:`_banded` rows it cut: each ``bands`` entry is one (band,
    band_hash) bucket per label, paired by :func:`bucket_pairs`, so a
    mixed-label bucket is one bucket per label and its occupancy and its
    cap count each label apart. ``max_bucket_size`` is the SEMANTIC
    guard: at web scale million-member buckets are template strings, not
    linkable entities, and even chunked enumeration of 10^12 pairs is
    work that should not happen.
    """
    # a posexplode of the stored column: over the cut no inferred
    # size(bands) > 0 filter can reach the signatures (band_signatures)
    rows = banded.select(
        "mention_id", "label", F.posexplode("bands").alias("band", "band_hash")
    )
    return bucket_pairs(
        rows, ["band", "band_hash", "label"], "mention_id", max_bucket_size
    ).distinct()


def _bucket_sizes(rows: DataFrame, keys: Sequence[str]) -> DataFrame:
    return rows.groupBy(*keys).agg(F.count(F.lit(1)).alias("_n"))


def _keys_over(sizes: DataFrame, keys: Sequence[str], n: int) -> DataFrame:
    """The keys of the buckets in ``sizes`` holding more than ``n`` rows,
    marked for a broadcast join."""
    return F.broadcast(sizes.filter(F.col("_n") > n).select(*keys))


def drop_oversized(
    rows: DataFrame, keys: Sequence[str], cap: int | None
) -> DataFrame:
    """``rows`` without the buckets (rows with equal ``keys``) of more
    than ``cap`` rows; every row when ``cap`` is None.

    The one bucket cap of the KG, dedup and similarity operators. Bucket
    sizes come from a partial-aggregating groupBy, so distinct keys
    shuffle, never rows; the oversized keys (at most rows/cap of them,
    and degenerate buckets are the pathology, not the norm) are dropped
    by a broadcast left-anti join, so the rows take no extra shuffle for
    the cap. A corpus with millions of oversized buckets should raise the
    cap or pre-filter its boilerplate rather than broadcast that set.
    """
    if cap is None:
        return rows
    return rows.join(
        _keys_over(_bucket_sizes(rows, keys), keys, cap), list(keys), "left_anti"
    )


def bucket_pairs(
    rows: DataFrame,
    keys: Sequence[str],
    id_col: str,
    cap: int | None = None,
) -> DataFrame:
    """(id_a, id_b), ``id_a < id_b``, once for every bucket the two rows
    share: the one bucket self-join of the KG blocking and every
    near-duplicate operator. A bucket is the rows with equal ``keys``, and
    an id appears at most once per bucket. Callers ``distinct()`` the
    pairs, or count them (winnowing's shared fingerprints).

    Skew: a bucket of size m emits O(m^2) pairs, and a plain self-join
    generates ALL of them inside one task (join keys can't split below key
    granularity) — template surfaces (shared email domains, URL prefixes)
    produce m in the thousands, serializing the stage (measured: one
    7,044-member bucket = 24.8M pairs in one task, KG 4→16-core efficiency
    0.44). Buckets larger than ``_CHUNK_THRESHOLD`` therefore go through a
    CHUNKED self-join: members hash into ``_CHUNK_GROUPS`` chunks; the left
    side replicates each row to every chunk >= its own, so join group
    (bucket, g) holds the m/G right rows of chunk g against the left rows
    of chunks <= g — the m^2 work spreads over G groups (max m^2/G per
    task) at a shuffle-replication cost of G/2 per hot row only. Exact same
    pairs as the plain join; small buckets keep the cheap path.

    One groupBy on ``keys`` sizes the buckets for both the ``cap``
    (:func:`drop_oversized`) and the routing: the hot keys, like the
    oversized ones, are a tiny set that is broadcast, so neither decision
    shuffles rows (the cap's plan and the routing's plan share the
    groupBy's exchange). The rows are cut EAGERLY first: every branch and
    both broadcast jobs read them, and a lazy cut that a broadcast job
    materializes mid-query truncates lineage while the consuming job's
    earlier stages are still reporting — every late task-completion event
    then logs "attempted to access non-existent accumulator" (hundreds of
    DAGScheduler ERROR lines per run, the round-3 bench-tail trace).
    """
    keys = list(keys)
    cut = _materialize(rows.select(*keys, F.col(id_col).alias("_id")))
    rows = drop_oversized(cut, keys, cap)
    hot = _keys_over(_bucket_sizes(cut, keys), keys, _CHUNK_THRESHOLD)

    same_bucket = [F.col(f"l.{k}") == F.col(f"r.{k}") for k in keys]

    # cheap path: whole bucket in one join group
    small = rows.join(hot, keys, "left_anti")
    pairs = (
        small.alias("l")
        .join(small.alias("r"), [*same_bucket, F.col("l._id") < F.col("r._id")])
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
    )

    # chunked path: join key gains a chunk id, splitting the hot bucket
    big = rows.join(hot, keys, "left_semi")
    g = F.pmod(F.xxhash64("_id"), F.lit(_CHUNK_GROUPS))
    left = big.withColumn("_lg", g).withColumn(
        "_rg", F.explode(F.sequence(F.col("_lg"), F.lit(_CHUNK_GROUPS - 1)))
    )
    right = big.withColumn("_g", g)
    chunked = (
        left.alias("l")
        .join(
            right.alias("r"),
            [
                *same_bucket,
                F.col("l._rg") == F.col("r._g"),
                (F.col("l._lg") < F.col("r._g"))
                | (F.col("l._id") < F.col("r._id")),
            ],
        )
        .select(
            F.least("l._id", "r._id").alias("id_a"),
            F.greatest("l._id", "r._id").alias("id_b"),
        )
    )
    return pairs.unionByName(chunked)


def _jaccard(a: str, b: str) -> Column:
    """|A ∩ B| / |A ∪ B| of two DISTINCT arrays, the union size taken as
    |A| + |B| − |A ∩ B| instead of from an ``array_union``."""
    inter = F.size(F.array_intersect(a, b))
    return inter / (F.size(a) + F.size(b) - inter)


def pair_columns(
    pairs: DataFrame, rows: DataFrame, id_col: str, cols: Sequence[str]
) -> DataFrame:
    """``pairs`` (id_a, id_b, ...) inner-joined on ``id_a`` and then on
    ``id_b`` with ``rows``' ``cols``, named ``<col>_a`` and ``<col>_b``:
    the one join-back of the verify step after :func:`bucket_pairs`
    proposes pairs. A pair whose id is not in ``rows`` is dropped."""
    for side in ("a", "b"):
        pairs = pairs.join(
            rows.select(
                F.col(id_col).alias(f"id_{side}"),
                *[F.col(c).alias(f"{c}_{side}") for c in cols],
            ),
            f"id_{side}",
        )
    return pairs


def score_links(
    pairs: DataFrame, rows: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """(id_a, id_b, score): exact trigram Jaccard on candidate pairs only,
    the trigrams read from ``rows`` (mention_id, trigrams, ...): the
    :func:`_banded` cut, or :func:`with_trigrams` of the mentions.

    Trigram arrays are distinct (:func:`_trigrams`), so the union size is
    ``|A| + |B| − |A ∩ B|``: the same double without building the union
    array."""
    return (
        pair_columns(pairs, rows, "mention_id", ["trigrams"])
        .select(
            "id_a",
            "id_b",
            _jaccard("trigrams_a", "trigrams_b").alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def _local_links(
    banded: pa.Table, threshold: float, cap: int | None
) -> tuple[np.ndarray, np.ndarray] | None:
    """(src, dst) id arrays of :func:`score_links` over
    :func:`lsh_candidate_pairs`, computed on the driver from a collected
    :func:`_banded` cut: the same (band, band_hash, label) buckets, the
    same cap as :func:`drop_oversized`, the distinct ``id_a < id_b``
    pairs and the same float64 Jaccard. Spark computed every hash and
    trigram; this only groups and compares them.

    None, before any pair is built, when the buckets kept by the cap
    propose ``_BANDS * _LOCAL_ROWS`` pairs or more: a distinct pair is
    proposed at most once per band, so under that bound the distinct
    pairs number fewer than ``_LOCAL_ROWS``.
    """
    n, bands = banded.num_rows, _BANDS
    ids = banded.column("mention_id").to_numpy()
    # one entry per (mention, band), keyed (label, band, band_hash); a
    # null label (code -1) pairs with nothing, as in the Spark equi-join
    labels = np.repeat(pd.factorize(banded.column("label").to_pandas())[0], bands)
    hashes = banded.column("bands").combine_chunks().flatten().to_numpy()
    key = (labels * bands + np.tile(np.arange(bands), n)) << 32 | (
        hashes.astype(np.int64) & 0xFFFFFFFF
    )
    entry = np.repeat(np.arange(n), bands)[labels >= 0]
    _, bucket, sizes = np.unique(
        key[labels >= 0], return_inverse=True, return_counts=True
    )
    kept = sizes if cap is None else np.where(sizes > cap, 0, sizes)
    if (kept * (kept - 1) // 2).sum() >= bands * _LOCAL_ROWS:
        return None

    # members grouped by bucket; each pairs with the ones after it
    order = np.argsort(bucket, kind="stable")
    members, bucket = entry[order], bucket[order]
    rank = np.arange(len(order)) - (np.cumsum(sizes) - sizes)[bucket]
    after = np.maximum(kept[bucket] - 1 - rank, 0)
    left = np.repeat(np.arange(len(order)), after)
    right = left + 1 + np.arange(len(left)) - np.repeat(np.cumsum(after) - after, after)
    a, b = members[left], members[right]
    lower = ids[a] < ids[b]
    lo, hi = np.where(lower, a, b), np.where(lower, b, a)
    pair = np.unique((lo * n + hi)[ids[a] != ids[b]])
    lo, hi = pair // n, pair % n

    # |A ∩ B|: each of hi's trigram codes looked up among lo's in a hash
    # index of the keys row * vocabulary + code (trigrams are distinct per
    # row, so the keys are unique and every hit is one shared trigram);
    # pairs go in blocks so the per-trigram arrays stay small
    tri = banded.column("trigrams").combine_chunks()
    lens = tri.value_lengths().to_numpy().astype(np.int64)
    codes = tri.flatten().dictionary_encode(null_encoding="encode")
    vocab, codes = len(codes.dictionary), codes.indices.to_numpy()
    table = pd.Index(np.repeat(np.arange(n), lens) * vocab + codes)
    starts = np.cumsum(lens) - lens
    inter = np.zeros(len(pair), dtype=np.int64)
    step = 1 << 16
    for s in range(0, len(pair), step):
        blo, bhi = lo[s : s + step], hi[s : s + step]
        ln = lens[bhi]
        of = np.repeat(np.arange(len(bhi)), ln)
        pos = np.repeat(starts[bhi] - (np.cumsum(ln) - ln), ln) + np.arange(len(of))
        hit = table.get_indexer(blo[of] * vocab + codes[pos]) >= 0
        inter[s : s + len(bhi)] = np.bincount(of, weights=hit, minlength=len(bhi))
    keep = inter / (lens[lo] + lens[hi] - inter) >= threshold
    return ids[lo[keep]], ids[hi[keep]]


# ---------------------------------------------------------------------------
# Connected components: alternating large-star / small-star
# (aggregate formulation of Kiveris et al., "Connected Components in
# MapReduce and Beyond" — groupBy-min + join per round, O(log n) rounds,
# no per-node adjacency lists materialized)


def _symmetrize(edges: DataFrame) -> DataFrame:
    return edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    # per-src min neighbor as a WINDOW aggregate, not groupBy-min + join:
    # the join form partitions sym TWICE (once under the aggregate, once
    # as the probe side) and re-executes the symmetrize map under each,
    # while the window computes the same m = least(min nbr, src) with ONE
    # exchange + sort (round-8 A/B: identical assignments, CC wall 1.4 s
    # -> 0.85 s warm at sf0.1; at scale it strictly halves the shuffled
    # bytes of the round). Skew is unchanged: a hot src concentrated its
    # rows on one reducer under the join's hash partitioning too.
    sym = _symmetrize(edges)
    w = Window.partitionBy("src")
    m = F.least(F.min("dst").over(w), F.col("src"))
    # no trailing distinct: _small_star's leading distinct() dedups the
    # oriented edges anyway — one shuffle per CC round saved (in the
    # alternating large->small composition used by connected_components)
    return (
        sym.withColumn("m", m)
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star step: every node with a smaller neighbour re-points
    itself and those neighbours at its minimum neighbour.

    The oriented (child -> parent) edges are hash-partitioned by ``src``
    BEFORE the ``distinct``: a (src, dst) distinct is satisfied by that
    partitioning, and so is the per-src min window after it, so the two
    share one exchange instead of paying one each. The price is the
    distinct's map-side combine: duplicate rows now cross the exchange.
    Measured on the deploy workload's edge table (41,637 edges, 5 rounds,
    local[4] on a 4-vCPU host): 32 -> 27 jobs and 4.2 / 3.9 s -> 3.1 / 3.2 s median warm
    per connected_components call, the same assignment.
    """
    oriented = (
        edges.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .repartition("src")
        .distinct()
    )
    # same window-over-join trade as _large_star; the moved edges and the
    # per-src self edge emit in ONE pass (explode of two structs — the
    # duplicate (src, m) rows per src collapse in the trailing distinct,
    # which the original union form needed anyway)
    w = Window.partitionBy("src")
    withm = oriented.withColumn("m", F.min("dst").over(w))
    both = withm.select(
        F.explode(
            F.array(
                F.struct(F.col("dst").alias("src"), F.col("m").alias("dst")),
                F.struct(F.col("src").alias("src"), F.col("m").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    return both.filter(F.col("src") != F.col("dst")).distinct()


def _stars_local(edges: pd.DataFrame) -> tuple[pd.DataFrame, bool]:
    """``_small_star(_large_star(edges))`` over a pandas frame, step for
    step: a round of :func:`_components_local`."""
    # large star: per-src min over the symmetrized edges, emitted (dst, m)
    # for every dst above its src
    src = np.concatenate([edges["src"].to_numpy(), edges["dst"].to_numpy()])
    dst = np.concatenate([edges["dst"].to_numpy(), edges["src"].to_numpy()])
    sym = pd.DataFrame({"src": src, "dst": dst})
    m = np.minimum(sym.groupby("src")["dst"].transform("min").to_numpy(), src)
    up = dst > src
    # small star: the oriented distinct, per-src min, then both stars
    o = pd.DataFrame(
        {"src": np.maximum(dst[up], m[up]), "dst": np.minimum(dst[up], m[up])}
    ).drop_duplicates()
    m = o.groupby("src")["dst"].transform("min").to_numpy()
    both = pd.DataFrame({
        "src": np.concatenate([o["dst"].to_numpy(), o["src"].to_numpy()]),
        "dst": np.concatenate([m, m]),
    })
    return both[both["src"] != both["dst"]].drop_duplicates(), False


def _components_local(cut: DataFrame, edges: pd.DataFrame, max_iter: int) -> DataFrame:
    """:func:`connected_components` of a collected edge frame on the
    driver, step for step: the same star rounds under
    :func:`pandas_fixpoint`, then the same per-id min over every node of
    the input and the converged stars."""
    src, dst, nodes = _node_codes(edges)
    keep = src != dst
    stars = pandas_fixpoint(
        _stars_local,
        pd.DataFrame({"src": src[keep], "dst": dst[keep]}),
        ("src", "dst"),
        max_iter,
        "connected components",
    )
    # every code is a node of the input; each star lowers its src's
    # component to its root
    comp = np.arange(len(nodes), dtype=np.int64)
    np.minimum.at(comp, stars["src"].to_numpy(), stars["dst"].to_numpy())
    return _driver_frame(cut, {"id": nodes, "component": nodes[comp]})


def connected_components(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """(id, component): component = min node id in the component.

    Input edges: (src, dst). Only nodes of some edge appear; a node
    whose only edge is a self-loop keeps its own id (so callers pass
    isolated nodes as self-loops). One large-star + small-star
    alternation per :func:`fixpoint` round; the alternation is idempotent
    at the fixpoint, so an unchanged edge set ends the loop. An input
    under the size gate of :func:`_cut_input` runs whole on the driver
    (:func:`_components_local`), round for round: the deploy KG's
    similarity graph (~40k edges, 5 rounds) then costs the input cut and
    one collect instead of ~4 Spark jobs per round plus the final min,
    with ``max_iter`` and its ``ValueError`` unchanged. Larger graphs
    keep the distributed rounds. (Refuted alternatives — hash-to-min, a
    degree-1 pre-peel, two alternations per round — are measured in
    BASELINE.md, CC_PEEL_AB.json and OPTIMIZATION_r08.md.)
    """
    # Cut the input once: the edge lineage is typically expensive (an LSH
    # self-join), and it is consumed by the iteration seed AND the
    # node-set below — without this it would be recomputed per consumer.
    base, small = _cut_input(edges)
    if small is not None:
        return _components_local(base, small, max_iter)
    # no distinct on the seed: duplicate edges change neither the large
    # star's per-src min nor the small star's leading distinct, so every
    # round's output is the same set, one shuffle cheaper
    cur = fixpoint(
        lambda e: _small_star(_large_star(e)),
        base.filter(F.col("src") != F.col("dst")),
        ("src", "dst"),
        max_iter,
        "connected components",
    )

    # final edges are (node -> root) stars and a root is its component's
    # smallest id, so one min per id over {itself, its root} is the
    # component; every node of the unfiltered base enters as (id, id), so
    # self-loop-only nodes keep their id
    return (
        base.select(F.col("src").alias("id"), F.col("src").alias("component"))
        .union(base.select(F.col("dst").alias("id"), F.col("dst").alias("component")))
        .union(cur.select(F.col("src").alias("id"), F.col("dst").alias("component")))
        .groupBy("id")
        .agg(F.min("component").alias("component"))
    )


def incremental_components(
    assign: DataFrame, new_edges: DataFrame
) -> DataFrame:
    """Merge new edges into an existing (id, component) assignment.

    An assignment is a star forest (every node points at its component's
    min id, every root at itself), so connectivity of (old graph ∪ new
    edges) equals connectivity of (star edges ∪ new edges) — the CC
    fixpoint re-runs over O(nodes) star edges plus the delta, NOT the full
    historical edge set. Component ids stay stable unless new edges merge
    clusters (the surviving id is the smaller min, exactly as a full
    recompute would give), so downstream canonicalization is identical to
    batch. This is what makes continuous KG construction
    (streaming/kg_update.py) equivalent to rebuilding from scratch every
    batch — proven in tests/test_kg_incremental.py.

    Every assignment row goes in as an edge, roots as self-loops: the
    fixpoint drops self-loops, but :func:`connected_components` takes its
    node set from its materialized input, so stable singletons come back
    with their own id. The result is read off that input and the
    converged stars alone; ``new_edges`` (in the refresh, the band
    self-join and Jaccard scoring) is planned once, inside the input cut,
    never again for the node ids.
    """
    star = assign.select(
        F.col("id").alias("src"), F.col("component").alias("dst")
    )
    return connected_components(star.unionByName(new_edges))


# ---------------------------------------------------------------------------
# Canonicalization + triples


def canonicalize(
    entities: DataFrame,
    alias_df: DataFrame | None = None,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """(label, text, canonical): canonical surface/id per mention cluster.

    Clusters = connected components over (similarity edges) ∪ (alias edges:
    mentions matching the same dictionary entry are connected through it).
    Canonical = the dictionary canonical_id if the cluster touched the
    dictionary, else the lexicographically smallest member surface.
    """
    # Two lazy localCheckpoints, not persist/unpersist (no CacheManager
    # entry — see _materialize's docstring). The mentions (a distinct
    # shuffle over entities) feed the banding, both score_links sides, the
    # alias hits and canonical_map; the hits feed the alias edges and
    # canonical_map. The first consuming job (the CC input cut) stores
    # both cuts' blocks and the later consumers reuse them, so the
    # mentions are computed once and the dictionary broadcast once; each
    # call runs only its own exchange as a job (the distinct, the
    # broadcast). An eager hits cut ran the mentions upstream in a job of
    # its own (round-8 A/B on q_kg_triples: first-run 12.2 s -> 3.1 s).
    mentions = _materialize(extract_mentions(entities), eager=False)
    hits = alias_candidates(mentions, alias_df)
    if hits is not None:
        hits = _materialize(hits, eager=False)
    comp = connected_components(
        mention_edges(mentions, hits, threshold, max_bucket_size)
    )
    return canonical_map(mentions, comp, hits)


def mention_edges(
    mentions: DataFrame,
    hits: DataFrame | None = None,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """(src, dst): the similarity graph clusters are computed over, the
    LSH-blocked candidate pairs (:func:`lsh_candidate_pairs`) verified by
    :func:`link_edges`.

    ``hits`` are the mentions' :func:`alias_candidates` (None without a
    dictionary). The caller derives them, so a caller that reuses them
    (:func:`canonicalize` hands the same cut to :func:`canonical_map`)
    pays one alias broadcast.

    Size gate: the mentions are cut once by :func:`_cut_small` as
    :func:`_banded` rows (id, label, trigrams, band hashes). Under
    ``_LOCAL_ROWS`` mentions the driver collects the cut and
    :func:`_local_links` blocks and scores it in numpy, unless its bucket
    pairs reach its bound; the alias edges stay a Spark union. A small
    KG's similarity edges then cost the cut and one collect instead of
    the banding, bucket sizing, broadcast, self-join and scoring jobs.
    Otherwise the Spark path below blocks and scores the cut, so the
    signatures and trigrams are computed once on either path.
    """
    cut, banded = _cut_small(_banded(mentions))
    links = None if banded is None else _local_links(banded, threshold, max_bucket_size)
    if links is not None:
        edges = cut.sparkSession.createDataFrame(
            pa.table({"src": links[0], "dst": links[1]}), "src long, dst long"
        )
        return _with_alias_edges(edges.coalesce(1), hits)
    # candidates-then-score, NOT scoring inside the bucket self-join: the
    # round-6 A/B on the m10 8.65M-edge graph (3 warm reps/level,
    # /tmp entities_240000_m10) REFUTED the fusion — fused 42.3 s @4
    # cores / 62.0 s @16 vs unfused 42.4 s / 21.0 s. Scoring once per
    # DISTINCT pair (~8.65M Jaccard evaluations on dictionary-encoded
    # joined arrays) beats scoring every bucket collision (~30M
    # evaluations inside the SMJ probe on trigram-widened rows, which
    # also quadruples the banding shuffle bytes and anti-scales under
    # the shared fixed-size heap). The id-joins the fusion was meant to
    # remove turn out to be the cheap part.
    return link_edges(lsh_candidate_pairs(cut, max_bucket_size), cut, hits, threshold)


def link_edges(
    pairs: DataFrame,
    rows: DataFrame,
    hits: DataFrame | None,
    threshold: float,
) -> DataFrame:
    """(src, dst): the candidate ``pairs`` that pass :func:`score_links`
    over the trigrams of ``rows`` at ``threshold`` ∪ an edge from each
    alias hit ``(mention_id, canonical_id)`` to its dictionary entry's
    virtual node, which connects every mention matching the entry without
    materializing the within-entry clique. The verify half of every KG
    edge set: the batch build blocks its candidates with
    :func:`lsh_candidate_pairs`, the incremental one against the stored
    bands (streaming/kg_update.py)."""
    edges = score_links(pairs, rows, threshold).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    return _with_alias_edges(edges, hits)


def _with_alias_edges(edges: DataFrame, hits: DataFrame | None) -> DataFrame:
    if hits is None:
        return edges
    return edges.union(
        hits.select(
            F.col("mention_id").alias("src"),
            F.xxhash64(F.concat(F.lit("alias:"), "canonical_id")).alias("dst"),
        )
    )


def mention_components(
    mentions: DataFrame,
    alias_df: DataFrame | None = None,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """(id, component) for every mention (component = min node id in its
    cluster; isolated mentions map to themselves). The directly-queryable
    form of the clustering that canonicalize consumes."""
    edges = mention_edges(
        mentions, alias_candidates(mentions, alias_df), threshold, max_bucket_size
    )
    return with_components(mentions, connected_components(edges)).select(
        F.col("mention_id").alias("id"), "component"
    )


def with_components(mentions: DataFrame, comp: DataFrame) -> DataFrame:
    """``mentions`` with a ``component`` column from an (id, component)
    ``comp``; a mention missing from ``comp`` is its own component. The
    one mention⋈component join, shared by :func:`canonical_map`,
    :func:`mention_components` and ``IncrementalKg.components``."""
    return mentions.join(comp, mentions.mention_id == comp.id, "left").select(
        *mentions.columns,
        F.coalesce("component", F.col("mention_id")).alias("component"),
    )


def canonical_map(
    mentions: DataFrame, comp: DataFrame, hits: DataFrame | None = None
) -> DataFrame:
    """(label, text, canonical) from mentions, their (id, component)
    assignment and their alias ``hits`` (None without a dictionary).

    The canonical stage of all three KG drivers: :func:`canonicalize`
    (mentions and hits cut lazily in the same query), the
    stage-checkpointed runner (checkpoint_kg.py, from its on-disk
    mentions and components tables) and ``IncrementalKg.canonical``
    (streaming/kg_update.py, from its state tables).
    """
    # `labeled` feeds three consumers (rep, the hits join, the final join);
    # materialize so the mention⋈component join runs once, not per
    # consumer. LAZY localCheckpoint (round-8): the eager form spent a
    # dedicated job boundary on it; lazily cut, the first consuming job
    # computes and caches the blocks and the other consumers reuse them —
    # A/B on q_kg_triples: identical triples, ~0.2 s warm / several
    # seconds first-run saved.
    labeled = _materialize(with_components(mentions, comp), eager=False)

    # ONE aggregation pass picks both the representative surface (smallest
    # (norm, text) in the component) and the dictionary canonical id:
    # min(canonical_id) skips nulls, so left-joining hits before the groupBy
    # gives exactly the old separate comp_alias aggregate — fused to save a
    # shuffle and a join per query (VERDICT r3 "Next round" #7).
    src, canonical = labeled, F.min(F.struct("norm", "text"))["text"]
    if hits is not None:
        src = labeled.join(hits, "mention_id", "left")
        canonical = F.coalesce(F.min("canonical_id"), canonical)
    rep = src.groupBy("component").agg(canonical.alias("canonical"))
    return labeled.join(rep, "component").select("label", "text", "canonical")


def build_triples(
    entities: DataFrame,
    object_groups: DataFrame | None = None,
    alias_df: DataFrame | None = None,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """(subj, pred, obj) triples, canonicalized.

    (url, HAS_<LABEL>, canonical_entity) from entities;
    (url, IN_GROUP, group_name) from object_groups (FIXTURES.md §2).
    """
    # entities is consumed twice (mention extraction + the final HAS join);
    # materialize so an expensive upstream (the NER tagger) runs once — the
    # same reason the reference persists object_entities before reading it
    # back (internal/core/processor.go:349-358).
    entities = _materialize(entities, eager=False)
    canon = canonicalize(
        entities, alias_df, threshold, max_bucket_size=max_bucket_size
    )
    return triples_from_canonical(entities, canon, object_groups)


def triples_from_canonical(
    entities: DataFrame,
    canon: DataFrame,
    object_groups: DataFrame | None = None,
) -> DataFrame:
    """The triple projection given an already-computed canonical map —
    shared by :func:`build_triples` and the stage-checkpointed runner
    (checkpoint_kg.py resumes from an on-disk ``canonical`` table), so the
    two paths cannot drift (round-3 review finding)."""
    has = (
        entities.join(canon, ["label", "text"])
        .select(
            F.col("url").alias("subj"),
            F.concat(F.lit("HAS_"), F.col("label")).alias("pred"),
            F.col("canonical").alias("obj"),
        )
        .distinct()
    )
    if object_groups is None:
        return has
    groups = object_groups.select(
        F.col("url").alias("subj"),
        F.lit("IN_GROUP").alias("pred"),
        F.col("group_name").alias("obj"),
    ).distinct()
    return has.unionByName(groups)


def write_triples(
    triples: DataFrame,
    path: str,
    n_buckets: int = 64,
    mode: str = "overwrite",
    sink=None,
) -> None:
    """Partitioned materialization: pred is the natural partition column
    (low cardinality, prunes HAS_<LABEL> queries); subj-hash distribution
    within partitions co-locates a url's triples. ``path`` doubles as the
    table name under a custom sink (Iceberg: pass sinks.IcebergSink and a
    plain table name)."""
    from . import sinks

    if sink is None:
        base, _, table = path.rpartition("/")
        sink = sinks.ParquetSink(base or ".")
    else:
        table = path
    sink.write(
        triples,
        table,
        spec=(sinks.identity("pred"),),
        mode=mode,
        distribute=(n_buckets, ["subj"]),
        sort_within=["subj", "pred"],
    )
