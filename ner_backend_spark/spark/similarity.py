"""Similarity search over embedding columns (array<float>).

* brute_force_topk — exact cosine top-k: broadcast the (small) query set,
  JVM-side dot products via zip_with/aggregate inside whole-stage codegen,
  window row_number for the top-k. Baseline and oracle.
* lsh_topk        — random-hyperplane LSH bucketing: each vector hashes to a
  signed-bit signature; candidates share a bucket in >=1 of `tables` hash
  tables. The scale path: shuffle on (table, bucket) instead of cross-join.
* ivf_topk        — IVF-style coarse quantization: k-means-ish centroids
  sampled deterministically, vectors assigned to nearest centroid
  (partition pruning analogue); queries probe `nprobe` nearest centroids.

Every cosine operator scores pairs the same way: each side is one
_normed (id, vec, norm) projection, the pair's cosine is _cosine over
the two norms, and the rankers keep each query's neighbors by _top_k.
The near-duplicate pairs join their sides back through kg.pair_columns.
"""

from __future__ import annotations


import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from .kg import _materialize, bucket_pairs, drop_oversized, pair_columns
from .session import map_batches


def _norm(col):
    """sqrt of the sequential self-fold sum(v*v) of one vector. Computed
    ONCE PER ROW (below a join boundary, so CollapseProject cannot inline
    it back into the per-pair expression), so the per-pair
    :func:`_cosine` costs one array fold instead of three, bit-identical
    to folding all three per pair: same fold, same sqrt, same operand
    order (round 8 — the pair-join sites were paying 2/3 of their lambda
    evaluations recomputing row-constant norms per pair). Every site gets
    it from :func:`_normed`, the per-row projection."""
    return F.sqrt(F.aggregate(col, F.lit(0.0), lambda acc, v: acc + v * v))


def _dot(col_a, col_b):
    return F.aggregate(
        F.zip_with(col_a, col_b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _normed(df: DataFrame, vec_col: str, *cols, side: str = "") -> DataFrame:
    """``df``'s ``cols``, then ``vec_col`` as array<double> and its
    :func:`_norm`, named ``vec_<side>`` and ``norm_<side>`` (``vec`` and
    ``norm`` without a side): the one projection below every pair join."""
    vec, norm = (f"{c}_{side}" if side else c for c in ("vec", "norm"))
    return df.select(
        *cols, F.col(vec_col).cast("array<double>").alias(vec)
    ).withColumn(norm, _norm(F.col(vec)))


def _cosine(a: str, b: str):
    """The cosine of sides ``a`` and ``b`` of a pair join of two
    :func:`_normed` projections, from their norm columns."""
    return _dot(F.col(f"vec_{a}"), F.col(f"vec_{b}")) / (
        F.col(f"norm_{a}") * F.col(f"norm_{b}")
    )


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """``scored``'s (query_id, neighbor_id, cosine) rows ranked per query
    by cosine descending, ties to the lower neighbor_id; the first ``k``."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank) — exact, excludes self-matches.

    ``queries`` must be small (it is broadcast); candidates scan stays fully
    JVM-side — no Python in the hot path.
    """
    q = _normed(queries, vec_col, F.col(id_col).alias("query_id"), side="q")
    c = _normed(embeddings, vec_col, F.col(id_col).alias("neighbor_id"), side="c")
    scored = c.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).select("query_id", "neighbor_id", _cosine("q", "c").alias("cosine"))
    return _top_k(scored, k)


def _hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.normal(size=(n_planes, dim)).astype(float)


def lsh_bucket_ids(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """(id, table, bucket): sign-bit bucket per hash table, one scan.

    bucket = sum of sign bits weighted by 2^j over the table's hyperplanes;
    all `tables` bucket ids come out of ONE pass over the vectors.
    """
    # Arrow-batched numpy kernel, NOT an unrolled JVM expression: Spark
    # higher-order functions (aggregate/zip_with) evaluate interpreted,
    # per-element — measured ~1 ms/row for tables*n_planes plane dots, which
    # is a scale killer (10^9 vectors -> CPU-weeks). The kernel computes
    # each row's plane dots as one fixed-shape GEMV (planes @ x), the same
    # call the python oracle makes — fixed shape means a fixed BLAS
    # summation order, so bucket ids are bit-identical across batch sizes
    # and between Spark and the oracle.
    planes = np.vstack(
        [_hyperplanes(dim, n_planes, seed + t) for t in range(tables)]
    )  # (tables * n_planes, dim), float64
    powers = (1 << np.arange(n_planes, dtype=np.int64)).astype(np.int64)
    schema = StructType(
        [
            StructField("id", LongType(), False),
            StructField("table", IntegerType(), False),
            StructField("bucket", IntegerType(), False),
        ]
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].values
        bucket_rows = np.empty((len(pdf), tables), dtype=np.int64)
        for r, vec in enumerate(pdf["vec"].values):
            x = np.asarray(vec, dtype=np.float64)
            bits = (planes @ x >= 0).astype(np.int64)
            bucket_rows[r] = (
                bits.reshape(tables, n_planes) * powers
            ).sum(axis=1)
        return pd.DataFrame(
            {
                "id": np.repeat(ids, tables),
                "table": np.tile(
                    np.arange(tables, dtype=np.int32), len(pdf)
                ),
                "bucket": bucket_rows.reshape(-1).astype(np.int32),
            }
        )

    out = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    return map_batches(out, run, schema)


def probe_masks(n_planes: int, probe_hamming: int) -> list[int]:
    """XOR masks for multiprobe: every bucket within Hamming distance
    ``probe_hamming`` of the query's bucket."""
    return [
        m for m in range(1 << n_planes) if bin(m).count("1") <= probe_hamming
    ]


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    tables: int = 4,
    seed: int = 42,
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: rank only candidates sharing an LSH bucket.

    ``probe_hamming`` enables multiprobe (Lv et al., VLDB'07): each query
    additionally probes every bucket within that Hamming distance of its own
    — the QUERY side explodes (cheap, queries are small), candidate vectors
    are still bucketed once. probe_hamming=1 with 8 planes probes 9 of 256
    buckets per table. Recall depends on how concentrated true neighbors
    are: for clustered embeddings (neighbor cosine >= ~0.7) recall is >0.9
    (pinned in tests/test_ann_recall.py); for near-uniform vectors (neighbor
    cosine ~0.3, the information-theoretically hard regime) no sublinear
    method retains high recall — raise probe_hamming/tables toward
    brute-force as needed.
    """
    cand_buckets = lsh_bucket_ids(
        embeddings, dim, id_col, vec_col, n_planes, tables, seed
    )
    query_buckets = lsh_bucket_ids(
        queries, dim, id_col, vec_col, n_planes, tables, seed
    ).withColumnRenamed("id", "query_id")
    if probe_hamming > 0:
        masks = probe_masks(n_planes, probe_hamming)
        query_buckets = query_buckets.select(
            "query_id",
            "table",
            F.explode(
                F.array(
                    *[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks]
                )
            ).alias("bucket"),
        )

    cand_pairs = (
        query_buckets.join(cand_buckets, ["table", "bucket"])
        .filter(F.col("query_id") != F.col("id"))
        .select("query_id", F.col("id").alias("neighbor_id"))
        .distinct()
    )

    q = _normed(queries, vec_col, F.col(id_col).alias("query_id"), side="q")
    c = _normed(embeddings, vec_col, F.col(id_col).alias("neighbor_id"), side="c")
    scored = (
        cand_pairs.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .select("query_id", "neighbor_id", _cosine("q", "c").alias("cosine"))
    )
    return _top_k(scored, k)



def _centroids(dim: int, n_centroids: int, seed: int) -> np.ndarray:
    """Shared by ivf_assignments and ivf_topk — the two MUST use identical
    centroids or queries probe cells vectors were never assigned to."""
    rng = np.random.RandomState(seed)
    cents = rng.normal(size=(n_centroids, dim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    return cents


def _kmeans_refine(X: np.ndarray, cents: np.ndarray, iters: int) -> np.ndarray:
    """Deterministic spherical Lloyd iterations (float64, argmax ties ->
    lowest index). Pure numpy so the python oracle reproduces it bit-exactly
    from the same sample rows."""
    cents = cents.copy()
    for _ in range(iters):
        assign = (X @ cents.T).argmax(axis=1)
        for c in range(len(cents)):
            pts = X[assign == c]
            if len(pts):
                v = pts.sum(axis=0)
                norm = np.linalg.norm(v)
                if norm > 0:
                    cents[c] = v / norm
    return cents


def train_centroids(
    embeddings: DataFrame,
    dim: int,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    kmeans_iters: int = 5,
    sample_size: int = 4096,
) -> np.ndarray:
    """Coarse-quantizer training: k-means over a deterministic sample.

    The sample is the ``sample_size`` lowest ids (a fixed, order-stable
    choice — at web scale substitute a hash-sampled fraction; training cost
    stays O(sample) on the driver either way). Seeded with the random unit
    centroids, refined by spherical Lloyd iterations. Data-adapted cells
    beat random ones exactly when the data is clustered — which is when IVF
    is the right index at all.
    """
    rows = (
        embeddings.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("vec"),
        )
        .orderBy("id")
        .limit(sample_size)
        .collect()
    )
    X = np.array([r["vec"] for r in rows], dtype=np.float64)
    return _kmeans_refine(X, _centroids(dim, n_centroids, seed), kmeans_iters)


def _centroid_scores(vec_col: str, cents: np.ndarray):
    """array<struct(score, cid)>: dot product of `vec_col` with each centroid.

    Built as one `transform` over the literal centroid matrix (not
    n_centroids unrolled aggregates — see lsh_bucket_ids on codegen cost);
    identical fold order, so scores are bit-identical to the unrolled form.
    """
    cents_lit = F.array(
        *[F.array(*[F.lit(float(v)) for v in row]) for row in cents]
    )
    return F.transform(
        cents_lit,
        lambda c, i: F.struct(
            F.aggregate(
                F.zip_with(F.col(vec_col), c, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("score"),
            i.alias("cid"),
        ),
    )


def embedding_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "exact",
    dim: int | None = None,
    n_planes: int = 8,
    tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """(id_a, id_b, cosine) pairs with cosine >= threshold (embedding near-dup).

    method='exact' scores every (a<b) pair — the oracle path, quadratic, only
    for verification at small SF. method='lsh' is the scale path: candidates
    must share a random-hyperplane bucket in >=1 of `tables` hash tables:
    the (table, bucket) buckets are paired by :func:`kg.bucket_pairs`, so
    no cross-join ever materializes and a hot bucket's pairs spread over
    many tasks.
    """
    vecs = _normed(embeddings, vec_col, F.col(id_col).cast("long").alias("id"))
    if method == "exact":
        a, b = (
            vecs.select(*[F.col(c).alias(f"{c}_{s}") for c in vecs.columns])
            for s in "ab"
        )
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    elif method == "lsh":
        if dim is None:
            raise ValueError("dim is required for method='lsh'")
        buckets = lsh_bucket_ids(
            vecs, dim, "id", "vec", n_planes, tables, seed
        )
        cand = bucket_pairs(buckets, ["table", "bucket"], "id").distinct()
        pairs = pair_columns(cand, vecs, "id", ["vec", "norm"])
    else:
        raise ValueError(f"unknown method {method!r}")
    return pairs.select(
        "id_a", "id_b", _cosine("a", "b").alias("cosine")
    ).filter(F.col("cosine") >= threshold)


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    kmeans_iters: int = 0,
    sample_size: int = 4096,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate top-k: queries probe their `nprobe` nearest centroids
    and rank only vectors assigned to those centroids.

    On a real warehouse `centroid_id` is the physical partition key of the
    vector table, so the candidate join below prunes to nprobe partitions;
    here it is a shuffle key. With ``kmeans_iters > 0`` the coarse quantizer
    is trained on a deterministic sample (:func:`train_centroids`) instead
    of using raw random unit vectors; pass ``centroids`` to reuse a
    quantizer fitted elsewhere (it MUST be the one vectors were assigned
    with).
    """
    if centroids is None:
        if kmeans_iters > 0:
            centroids = train_centroids(
                embeddings, dim, n_centroids, id_col, vec_col, seed,
                kmeans_iters, sample_size,
            )
        else:
            centroids = _centroids(dim, n_centroids, seed)
    cents = centroids

    assigned = ivf_assignments(
        embeddings, dim, n_centroids, id_col, vec_col, seed, centroids=cents
    ).withColumnRenamed("id", "neighbor_id")

    q = _normed(queries, vec_col, F.col(id_col).alias("query_id"), side="q")
    # per-query centroid scores -> sort desc -> keep nprobe -> explode
    scores = _centroid_scores("vec_q", cents)
    probes = q.select(
        "query_id",
        "vec_q",
        "norm_q",
        F.explode(
            F.slice(F.sort_array(scores, asc=False), 1, nprobe)
        ).alias("probe"),
    ).select(
        "query_id", "vec_q", "norm_q", F.col("probe.cid").alias("centroid_id")
    )

    c = _normed(embeddings, vec_col, F.col(id_col).alias("neighbor_id"), side="c")
    scored = (
        assigned.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .join(c, "neighbor_id")
        .select("query_id", "neighbor_id", _cosine("q", "c").alias("cosine"))
    )
    return _top_k(scored, k)


def ivf_assignments(
    embeddings: DataFrame,
    dim: int,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """(id, centroid_id): nearest deterministic random centroid.

    At warehouse scale the centroid id becomes the table's partition key, so
    probing nprobe centroids is partition pruning. Centroids here are
    seed-fixed random unit vectors (a k-means step can refine them without
    changing the operator shape).
    """
    cents = _centroids(dim, n_centroids, seed) if centroids is None else centroids
    cents = np.asarray(cents, dtype=np.float64)
    schema = StructType(
        [
            StructField("id", LongType(), False),
            StructField("centroid_id", IntegerType(), False),
        ]
    )

    # Arrow-batched numpy kernel (see lsh_bucket_ids on why not JVM
    # higher-order functions for the per-corpus-row path). Fixed-shape GEMV
    # per row -> deterministic scores; ties resolve to the LOWEST centroid
    # id (numpy argmax), replicated by the python oracle.
    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        assigned = np.empty(len(pdf), dtype=np.int32)
        for r, vec in enumerate(pdf["vec"].values):
            x = np.asarray(vec, dtype=np.float64)
            assigned[r] = int((cents @ x).argmax())
        return pd.DataFrame({"id": pdf["id"].values, "centroid_id": assigned})

    out = embeddings.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    return map_batches(out, run, schema)


def semantic_dedup(
    embeddings: DataFrame,
    dim: int,
    n_centroids: int = 16,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    kmeans_iters: int = 5,
    max_cluster_size: int = 4096,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """(id, cid, is_dup): SemDeDup-style semantic deduplication (Abbas et
    al. 2023, "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication") — cluster-then-prune, the shape that avoids
    global ANN over the corpus.

    Semantics (deterministic, oracle-mirrored): embeddings are assigned
    to their nearest k-means centroid (ties to the LOWEST centroid id,
    as :func:`ivf_assignments`); within each cluster a row is a
    duplicate iff some SMALLER-id row of the same cluster has cosine >=
    ``threshold`` with it (keep-first-by-id — the deterministic stand-in
    for the paper's keep-lowest-centroid-distance rule, chosen so a
    DuckDB/pure-Python oracle reproduces it exactly without float
    argmin ties).

    Scale shape: pair generation happens ONLY inside a cluster — the
    self-join key is the centroid id, so the shuffle moves each row
    k=1 time and no cross-corpus pair set ever materializes. In the
    paper's regime n_centroids scales with the corpus (they use 50k
    clusters for LAION), keeping clusters small; as a structural
    backstop, clusters larger than ``max_cluster_size`` are exempted
    from pruning by :func:`kg.drop_oversized`, the bucket cap of the
    MinHash/SimHash/KG blocking (a broadcast anti-join on the tiny
    over-cap cid list), so worst-case within-cluster pair work is bounded
    by max_cluster_size**2 per cluster regardless of data skew.
    """
    cents = (
        train_centroids(
            embeddings,
            dim,
            n_centroids,
            id_col=id_col,
            vec_col=vec_col,
            seed=seed,
            kmeans_iters=kmeans_iters,
        )
        if centroids is None
        else np.asarray(centroids, dtype=np.float64)
    )
    assign = ivf_assignments(
        embeddings, dim, n_centroids, id_col, vec_col, seed, centroids=cents
    ).select(F.col("id"), F.col("centroid_id").alias("cid"))
    # the assignments are cut once: vecs fans out to the cap, both pair
    # sides and the emit, and each branch would re-run the kernel
    vecs = embeddings.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    ).join(_materialize(assign), "id")

    prunable = drop_oversized(vecs, ["cid"], max_cluster_size)

    a, b = (
        _normed(prunable, "vec", "cid", F.col("id").alias(f"id_{s}"), side=s)
        for s in "ab"
    )
    # duplicate side only: for each b, does any smaller-id a in the same
    # cluster sit above the threshold? LEFT SEMI keeps the probe one-sided
    # (no pair rows survive the join).
    dup_ids = (
        b.alias("b")
        .join(
            a.alias("a"),
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.id_a") < F.col("b.id_b"))
            & (_cosine("a", "b") >= F.lit(float(threshold))),
            "left_semi",
        )
        .select(F.col("id_b").alias("id"))
    )
    return (
        vecs.select("id", "cid")
        .join(dup_ids.withColumn("_d", F.lit(True)), "id", "left")
        .select(
            F.col("id"),
            F.col("cid"),
            F.coalesce(F.col("_d"), F.lit(False)).alias("is_dup"),
        )
    )


def _pq_train(X: np.ndarray, n_blocks: int, n_codes: int, iters: int) -> np.ndarray:
    """(n_blocks, n_codes, dim/n_blocks) product-quantization codebooks:
    per-block L2 Lloyd over the training sample (Jégou et al. 2011,
    "Product Quantization for Nearest Neighbor Search").

    Deterministic: codewords seed from the first ``n_codes`` sample rows'
    subvectors (the sample itself is the id-ordered deterministic sample of
    pq_codebooks), mean updates in float64, empty cells keep their previous
    codeword, argmin ties resolve to the lowest code. Pure numpy so the
    python oracle reproduces the codebooks bit-exactly from the same rows.
    """
    d = X.shape[1]
    ds = d // n_blocks
    books = []
    for b in range(n_blocks):
        Xb = X[:, b * ds:(b + 1) * ds]
        cents = Xb[:n_codes].copy()
        for _ in range(iters):
            d2 = ((Xb[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(n_codes):
                pts = Xb[assign == c]
                if len(pts):
                    cents[c] = pts.mean(axis=0)
        books.append(cents)
    return np.stack(books)


def pq_codebooks(
    embeddings: DataFrame,
    dim: int,
    n_blocks: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kmeans_iters: int = 5,
    sample_size: int = 4096,
) -> np.ndarray:
    """Train PQ codebooks on the deterministic id-ordered sample (the
    train_centroids convention: ``sample_size`` lowest ids — bounded driver
    work at any corpus size; at web scale substitute a hash-sampled
    fraction without changing the operator shape)."""
    if dim % n_blocks:
        # _pq_train would silently drop the trailing dim % n_blocks
        # dimensions (round-7 advice)
        raise ValueError(
            f"dim ({dim}) must be divisible by n_blocks ({n_blocks})"
        )
    rows = (
        embeddings.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("vec"),
        )
        .orderBy("id")
        .limit(sample_size)
        .collect()
    )
    X = np.array([r["vec"] for r in rows], dtype=np.float64)
    return _pq_train(X, n_blocks, n_codes, kmeans_iters)


def _pq_encode_np(x: np.ndarray, books: np.ndarray, biases: np.ndarray) -> np.ndarray:
    """Per-row PQ codes: for each block, argmax(codebook @ sub − bias) —
    the dot-minus-half-norm form of L2 argmin (same fixed-shape GEMV as
    the python oracle, so codes are bit-identical)."""
    n_blocks, _, ds = books.shape
    codes = np.empty(n_blocks, dtype=np.int32)
    for b in range(n_blocks):
        sub = x[b * ds:(b + 1) * ds]
        codes[b] = int((books[b] @ sub - biases[b]).argmax())
    return codes


def pq_encode(
    embeddings: DataFrame,
    books: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>): each vector compressed to one small code per
    block — dim*4 bytes down to n_blocks bytes per vector. At 100 TB the
    codes table (id + a few bytes) is what ships to every ANN consumer;
    the raw vectors are scanned exactly once, here. Arrow numpy kernel
    (see lsh_bucket_ids on why per-corpus-row linear algebra is not a JVM
    higher-order function)."""
    books = np.asarray(books, dtype=np.float64)
    biases = 0.5 * (books ** 2).sum(axis=2)
    n_blocks = books.shape[0]
    schema = StructType(
        [
            StructField("id", LongType(), False),
            StructField("codes", ArrayType(IntegerType(), False), False),
        ]
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        out = np.empty((len(pdf), n_blocks), dtype=np.int32)
        for r, vec in enumerate(pdf["vec"].values):
            out[r] = _pq_encode_np(
                np.asarray(vec, dtype=np.float64), books, biases
            )
        return pd.DataFrame({"id": pdf["id"].values, "codes": list(out)})

    vecs = embeddings.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    return map_batches(vecs, run, schema)


def pq_topk(
    embeddings: DataFrame,
    books: np.ndarray,
    k: int = 10,
    n_queries: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    topk_buckets: int = 32,
) -> DataFrame:
    """(query_id, neighbor_id, rnk): asymmetric-distance (ADC) top-k — each
    query ranks the WHOLE corpus by table lookups over its PQ codes, the
    linear-scan regime product quantization exists for (IVF prunes cells;
    PQ makes the residual scan ~n_blocks adds per vector).

    Queries are the rows with ``id < n_queries`` — this assumes the
    0-based contiguous id space of the gate fixtures (on a sparse id
    space it selects fewer rows; use an orderBy(id).limit sample like
    pq_codebooks if that matters — round-7 advice: the convention is a
    GATE, not an ordering); their dim-sized lookup tables are built driver-side from
    one bounded collect and closed over by the scoring kernel — broadcast-
    sized state (n_queries * dim floats), never a shuffle. Scoring emits
    (query, neighbor, score) with score = LUT-sum / |x̂| (|q| is constant
    per query and cannot change its ranking); the top-k runs TWO-LEVEL —
    per (query, hash-bucket) row_number first, then the global k over
    ≤ buckets*k survivors — so no single reducer ever sorts the corpus.
    Exact w.r.t. the score order because every global top-k row is top-k
    in its own bucket; ties break on neighbor_id on both engines.
    """
    books = np.asarray(books, dtype=np.float64)
    biases = 0.5 * (books ** 2).sum(axis=2)
    n_blocks, n_codes, ds = books.shape
    norm2 = (books ** 2).sum(axis=2)  # (n_blocks, n_codes)

    q_rows = (
        embeddings.select(
            F.col(id_col).cast("long").alias("id"),
            F.col(vec_col).cast("array<double>").alias("vec"),
        )
        .filter(F.col("id") < n_queries)
        .collect()
    )
    q_ids = np.array([r["id"] for r in q_rows], dtype=np.int64)
    # lut[q][b, c] = q_sub(b) · codeword(b, c) — the same (n_codes, ds) GEMV
    # shape the oracle computes, so every float is bit-identical
    luts = np.stack(
        [
            np.stack(
                [
                    books[b]
                    @ np.asarray(r["vec"], dtype=np.float64)[b * ds:(b + 1) * ds]
                    for b in range(n_blocks)
                ]
            )
            for r in q_rows
        ]
    )

    schema = StructType(
        [
            StructField("query_id", LongType(), False),
            StructField("neighbor_id", LongType(), False),
            StructField("score", DoubleType(), False),
        ]
    )
    b_idx = np.arange(n_blocks)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        nq = len(q_ids)
        n = len(pdf)
        scores = np.empty((n, nq), dtype=np.float64)
        for r, vec in enumerate(pdf["vec"].values):
            codes = _pq_encode_np(
                np.asarray(vec, dtype=np.float64), books, biases
            )
            n2 = norm2[b_idx, codes].sum()
            ip = luts[:, b_idx, codes].sum(axis=1)  # (nq,)
            scores[r] = ip / np.sqrt(n2) if n2 > 0.0 else 0.0
        return pd.DataFrame(
            {
                "query_id": np.tile(q_ids, n),
                "neighbor_id": np.repeat(pdf["id"].values, nq),
                "score": scores.reshape(-1),
            }
        )

    vecs = embeddings.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    scored = map_batches(vecs, run, schema).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    w1 = Window.partitionBy(
        "query_id", F.pmod(F.hash("neighbor_id"), F.lit(topk_buckets))
    ).orderBy(F.col("score").desc(), F.col("neighbor_id"))
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("prnk", F.row_number().over(w1))
        .filter(F.col("prnk") <= k)
        .withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk")
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 60,
    topk: int = 10,
    group_col: str = "query_id",
    id_col: str = "neighbor_id",
    rank_col: str = "rnk",
    round_digits: int = 6,
) -> DataFrame:
    """(query_id, neighbor_id, rrf, fused_rnk): reciprocal-rank fusion
    (Cormack, Clarke & Buettcher 2009) of multiple per-query rankings —
    the standard ensemble layer over heterogeneous retrieval systems
    (lexical BM25 + dense ANN, exact + compressed index):

        rrf(d) = sum over systems ranking d of 1 / (k + rank_sys(d)).

    Scale shape: the inputs are RANKINGS (per-query top-k tables, k
    rows per query per system), never corpora — the union carries
    O(queries * k * systems) rows, the fuse is one map-side-combined
    groupBy on (query, doc), and the final per-query top-k is a window
    over <= systems*k candidates per query. Determinism across engines:
    rrf sums at most ``len(rankings)`` IEEE doubles whose operands are
    exact small-integer reciprocals — with two systems the sum is
    commutative-exact, ties break on the id column on both engines;
    the emitted score is rounded, the ORDER uses the raw double.
    """
    if not rankings:
        # round-7 advice: an empty list fell through to None.groupBy
        raise ValueError("rankings must be non-empty")
    scored = None
    for r in rankings:
        s = r.select(
            F.col(group_col),
            F.col(id_col),
            (
                F.lit(1.0)
                / (F.lit(float(k)) + F.col(rank_col).cast("double"))
            ).alias("_s"),
        )
        scored = s if scored is None else scored.unionByName(s)
    fused = scored.groupBy(group_col, id_col).agg(F.sum("_s").alias("_sum"))
    w = Window.partitionBy(group_col).orderBy(
        F.col("_sum").desc(), F.col(id_col)
    )
    return (
        fused.withColumn("fused_rnk", F.row_number().over(w))
        .filter(F.col("fused_rnk") <= topk)
        .select(
            group_col,
            id_col,
            F.round(F.col("_sum"), round_digits).alias("rrf"),
            F.col("fused_rnk").cast("long").alias("fused_rnk"),
        )
    )
