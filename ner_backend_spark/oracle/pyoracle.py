"""Pure-Python (non-Spark) oracles for the driver queries that aren't
expressible in ANSI SQL.

Each function recomputes a query's expected output with plain Python over
the parquet inputs — single-threaded, no Spark — so the driver's
rows+schema+hash comparison verifies that the *distributed* plan (Arrow
batching, shuffles, LSH bucket joins, connected components) reproduces the
single-node reference semantics exactly. The per-document NER semantics come
from ner_backend_spark.core (the same module the Spark kernels call, itself
pinned by golden tests against the reference:
internal/core/processor_test.go:48-114, presidio_test.go:21-54); the
LSH/banding/mention-id arithmetic is recomputed here against the pure-Python
Spark-hash replicas (core/spark_hash.py), which are pinned bit-exactly vs
Spark in tests/test_spark_hash.py.

Float-bearing comparisons (ANN cosine ranks) replicate Spark's exact fold
order — ``aggregate(zip_with(a, b, *), 0.0, +)`` is a left fold — so IEEE
double results are bit-identical, making rank orderings deterministic.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import defaultdict
from functools import lru_cache as _lru_cache
from types import SimpleNamespace

import numpy as np
import pyarrow.parquet as pq

from .. import flagship
from ..core.inference import run_inference_on_object
from ..core.query import parse_query
from ..core.spark_hash import (
    spark_hash,
    spark_hash_int_array,
    spark_hash_long_array,
    spark_xxhash64,
)
from ..spark.dedup import (
    _HASH_RANGE,
    _minhash_params,
    _word_shingles,
    minhash_matrix,
    simhash_blocking,
)
from ..spark.multimodal import _fake_features
from ..spark.similarity import _centroids, _hyperplanes, _kmeans_refine, probe_masks
from ..spark.tagger import _compiled_state

# ---------------------------------------------------------------------------
# inputs


def load_documents(sf_dir: str) -> list[tuple[int, str]]:
    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    return list(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))


def load_document_langs(sf_dir: str) -> list[tuple[int, str]]:
    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "lang"])
    return list(zip(t.column("doc_id").to_pylist(), t.column("lang").to_pylist()))


def load_embeddings(sf_dir: str) -> list[tuple[int, list[float]]]:
    t = pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    # list<float32> -> python floats: the exact value Spark gets from
    # cast(embedding as array<double>)
    return list(
        zip(t.column("vec_id").to_pylist(), t.column("embedding").to_pylist())
    )


# ---------------------------------------------------------------------------
# NER pipeline family (shares the per-document kernel code with Spark)


def _run_config(docs: list[tuple[str, str]], config):
    """Yield (url, InferenceResult) exactly as tagger._run_batch does."""
    model, tags, custom, group_filters = _compiled_state(config)
    for url, text in docs:
        yield url, run_inference_on_object(
            text if text is not None else "",
            model,
            tags,
            custom,
            group_filters,
            build_previews=config.build_previews,
        )


def _doc_urls_texts(sf_dir: str) -> list[tuple[str, str]]:
    return [(str(i), t) for i, t in load_documents(sf_dir)]


def oracle_entities(sf_dir: str, config) -> list[tuple]:
    """(url, label, text, start, end, l_context, r_context) rows."""
    rows = []
    for url, res in _run_config(_doc_urls_texts(sf_dir), config):
        for e in res.entities:
            rows.append((url, e.label, e.text, e.start, e.end, e.l_context, e.r_context))
    return rows


def oracle_ner_pipeline(sf_dir: str) -> list[tuple]:
    return oracle_entities(sf_dir, flagship.ner_pipeline_config())


def oracle_crf_pipeline(sf_dir: str) -> list[tuple]:
    return oracle_entities(sf_dir, flagship.crf_config())


def oracle_merged_model(sf_dir: str) -> list[tuple]:
    return oracle_entities(sf_dir, flagship.merged_config())


def oracle_presidio_pages(sf_dir: str) -> list[tuple]:
    from .. import fixtures

    n = flagship.sf_page_count(sf_dir)
    pages = [(r[0], r[3]) for r in fixtures.generate_rows_distributed(n)]
    rows = []
    for url, res in _run_config(pages, flagship.presidio_config()):
        for e in res.entities:
            rows.append((url, e.label, e.text, e.start, e.end, e.l_context, e.r_context))
    return rows


def oracle_task_rollup(sf_dir: str) -> list[tuple]:
    """(partition_id, status, n_attempts, n_docs, n_entities, n_tokens) —
    the checkpointed-report rollup recomputed single-threaded: bucket
    assignment via the xxhash64 replica (pmod semantics: Python ``%`` with
    a positive modulus is non-negative, exactly Spark's pmod), counters from
    the same per-document kernel, attempt counts from the deterministic
    poisoned-then-resumed scenario (flagship.TASK_ROLLUP /
    task_rollup_attempts)."""
    n_buckets = flagship.TASK_ROLLUP["n_buckets"]
    stats = {p: [0, 0, 0] for p in range(n_buckets)}
    config = flagship.ner_pipeline_config()
    for url, res in _run_config(_doc_urls_texts(sf_dir), config):
        p = spark_xxhash64(url) % n_buckets
        s = stats[p]
        s[0] += 1
        s[1] += len(res.entities)
        s[2] += res.total_tokens
    return [
        (p, "COMPLETED", flagship.task_rollup_attempts(p), *stats[p])
        for p in range(n_buckets)
    ]


def oracle_pii_density(sf_dir: str) -> list[tuple]:
    """(url, total_tokens, n_entities, pii_density) — the presidio pass
    over the same distributed-generated pages, density rounded to 6 like
    the Spark side (one exact int/int division, bit-identical)."""
    import math

    from .. import fixtures

    n = flagship.sf_page_count(sf_dir)
    pages = [(r[0], r[3]) for r in fixtures.generate_rows_distributed(n)]
    rows = []
    for url, res in _run_config(pages, flagship.presidio_config()):
        ne = len(res.entities)
        tt = res.total_tokens
        # HALF_UP like Spark's round() — python round() is banker's and a
        # genuine .xxxxxx5 tie is reachable (power-of-two token counts)
        density = math.floor(ne / max(tt, 1) * 1e6 + 0.5) / 1e6
        rows.append((url, tt, ne, density))
    return rows


def oracle_previews(sf_dir: str) -> list[tuple]:
    """(url, n_tokens, n_tags)."""
    rows = []
    for url, res in _run_config(_doc_urls_texts(sf_dir), flagship.previews_config()):
        rows.append((url, len(res.preview_tokens), len(res.preview_tags)))
    return rows


def oracle_redaction(sf_dir: str) -> list[tuple]:
    """(url, redacted, n_redactions) — mirrors spark/redaction.py's kernel."""
    from ..core.postprocess import filter_entities
    from ..core.redact import TagMetadata, redact_spans

    config = flagship.redaction_config()
    model, _tags, _custom, _groups = _compiled_state(config)
    rows = []
    for url, text in _doc_urls_texts(sf_dir):
        tb = (text or "").encode("utf-8")
        ents = filter_entities(tb, model.predict(tb))
        redacted, meta = redact_spans(tb, ents, TagMetadata())
        rows.append((url, redacted, len(meta.tag_map)))
    return rows


def oracle_multimodal(sf_dir: str) -> list[tuple]:
    """(url, n_bytes, feat_hash) — mirrors the extract_image_features stub."""
    rows = []
    for url, text in _doc_urls_texts(sf_dir):
        data = (text or "").encode("utf-8")
        vec = _fake_features(data, flagship.MULTIMODAL_DIM)
        rows.append(
            (
                url,
                len(data),
                hashlib.md5(vec.astype(np.float32).tobytes()).hexdigest(),
            )
        )
    return rows


# ---------------------------------------------------------------------------
# MinHash / SimHash near-dup


def oracle_minhash_neardups(sf_dir: str) -> list[tuple]:
    """(id_a, id_b, est_jaccard) — replicates near_duplicates_minhash."""
    p = flagship.MINHASH
    num_hashes, bands = p["num_hashes"], p["bands"]
    rows_per_band = num_hashes // bands
    a, b = _minhash_params(num_hashes)

    sigs: dict[int, np.ndarray] = {}
    for doc_id, text in load_documents(sf_dir):
        h = _word_shingles(text or "", p["shingle_k"])
        vals = minhash_matrix(h, a, b)
        sigs[int(doc_id)] = (vals.min(axis=1) % _HASH_RANGE).astype(np.int64)

    buckets: dict[tuple[int, int], list[int]] = defaultdict(list)
    for doc_id, sig in sigs.items():
        for band in range(bands):
            chunk = sig[band * rows_per_band : (band + 1) * rows_per_band]
            buckets[(band, spark_hash_long_array(chunk.tolist()))].append(doc_id)

    cap = p.get("max_bucket_size")
    pairs: set[tuple[int, int]] = set()
    for ids in buckets.values():
        if cap is not None and len(ids) > cap:
            continue  # degenerate bucket, same rule as lsh_candidate_pairs
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                pairs.add((ids[i], ids[j]))

    out = []
    for id_a, id_b in sorted(pairs):
        est = int((sigs[id_a] == sigs[id_b]).sum()) / num_hashes
        if est >= p["threshold"]:
            out.append((id_a, id_b, est))
    return out


def simhash64(text: str) -> int:
    """Per-document 64-bit simhash, matching the vectorized kernel in
    spark/dedup.py (bit k of the big-endian blake2b digest int)."""
    acc = [0] * 64
    for w in (text or "").split():
        val = int.from_bytes(
            hashlib.blake2b(w.encode("utf-8"), digest_size=8).digest(), "big"
        )
        for k in range(64):
            acc[k] += 1 if (val >> k) & 1 else -1
    sim = 0
    for k in range(64):
        if acc[k] > 0:
            sim |= 1 << k
    return sim - (1 << 64) if sim >= (1 << 63) else sim


def simhash_table_key(u: int, blocks: list[tuple[int, int]]) -> int:
    """Concatenated-block key, mirroring dedup._table_key_expr bit-exact."""
    key = 0
    for off, width in blocks:
        mask = (1 << width) - 1 if width < 64 else (1 << 64) - 1
        key = ((key << width) | ((u >> off) & mask)) & ((1 << 64) - 1)
    return key - (1 << 64) if key >= (1 << 63) else key


def oracle_simhash_neardups(sf_dir: str) -> list[tuple]:
    """(id_a, id_b, hamming) — replicates simhash_near_duplicates with the
    flagship permuted-block tables and degenerate-bucket cap."""
    p = flagship.SIMHASH
    max_hamming = p["max_hamming"]
    cap = p.get("max_bucket_size")
    tables = simhash_blocking(max_hamming)
    sigs = {
        int(doc_id): simhash64(text) for doc_id, text in load_documents(sf_dir)
    }
    buckets: dict[tuple[int, int], list[int]] = defaultdict(list)
    for doc_id, sim in sigs.items():
        u = sim & ((1 << 64) - 1)
        for idx, blocks in enumerate(tables):
            buckets[(idx, simhash_table_key(u, blocks))].append(doc_id)
    pairs: set[tuple[int, int]] = set()
    for ids in buckets.values():
        if cap is not None and len(ids) > cap:
            continue
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                pairs.add((ids[i], ids[j]))
    out = []
    for id_a, id_b in sorted(pairs):
        ham = bin((sigs[id_a] ^ sigs[id_b]) & ((1 << 64) - 1)).count("1")
        if ham <= max_hamming:
            out.append((id_a, id_b, ham))
    return out


# ---------------------------------------------------------------------------
# ANN / embedding near-dup (exact fold-order replication of spark/similarity)


def _fold_dot(a: list[float], b: list[float]) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _fold_sq(a: list[float]) -> float:
    acc = 0.0
    for v in a:
        acc = acc + v * v
    return acc


def _cosine_py(a: list[float], b: list[float]) -> float:
    return _fold_dot(a, b) / (math.sqrt(_fold_sq(a)) * math.sqrt(_fold_sq(b)))


def _bucket_ids_py(
    vecs: dict[int, list[float]], dim: int, n_planes: int, tables: int, seed: int = 42
) -> dict[tuple[int, int], list[int]]:
    """(table, bucket) -> member ids, replicating lsh_bucket_ids.

    Same per-row fixed-shape GEMV (planes @ x) as the Spark kernel, so the
    BLAS summation order — and therefore every sign bit — is identical."""
    planes = np.vstack(
        [_hyperplanes(dim, n_planes, seed + t) for t in range(tables)]
    )
    powers = (1 << np.arange(n_planes, dtype=np.int64)).astype(np.int64)
    buckets: dict[tuple[int, int], list[int]] = defaultdict(list)
    for vid, vec in vecs.items():
        x = np.asarray(vec, dtype=np.float64)
        bits = (planes @ x >= 0).astype(np.int64)
        per_table = (bits.reshape(tables, n_planes) * powers).sum(axis=1)
        for t in range(tables):
            buckets[(t, int(per_table[t]))].append(vid)
    return buckets


def _topk_py(
    cand: dict[int, set[int]], vecs: dict[int, list[float]], k: int
) -> list[tuple]:
    """(query_id, neighbor_id, rnk): row_number over (cosine desc, id asc)."""
    out = []
    for qid in sorted(cand):
        scored = [
            (_cosine_py(vecs[qid], vecs[nid]), nid) for nid in cand[qid]
        ]
        scored.sort(key=lambda sn: (-sn[0], sn[1]))
        for rank, (_, nid) in enumerate(scored[:k], start=1):
            out.append((qid, nid, rank))
    return out


def oracle_lsh_ann(sf_dir: str) -> list[tuple]:
    p = flagship.LSH_ANN
    vecs = {int(i): v for i, v in load_embeddings(sf_dir)}
    queries = {i for i in vecs if i < 10}
    buckets = _bucket_ids_py(vecs, p["dim"], p["n_planes"], p["tables"])
    # multiprobe: each query also probes buckets within probe_hamming bits
    masks = probe_masks(p["n_planes"], p.get("probe_hamming", 0)) or [0]
    probed: dict[tuple[int, int], set[int]] = defaultdict(set)
    for (t, bucket), members in buckets.items():
        for q in members:
            if q in queries:
                for m in masks:
                    probed[(t, bucket ^ m)].add(q)
    cand: dict[int, set[int]] = defaultdict(set)
    for key, qs in probed.items():
        for nid in buckets.get(key, ()):
            for q in qs:
                if nid != q:
                    cand[q].add(nid)
    return _topk_py(cand, vecs, p["k"])


def oracle_ivf_ann(sf_dir: str) -> list[tuple]:
    p = flagship.IVF_ANN
    vecs = {int(i): v for i, v in load_embeddings(sf_dir)}
    raw = _centroids(p["dim"], p["n_centroids"], 42)
    if p.get("kmeans_iters", 0) > 0:
        # the deterministic training sample: lowest sample_size ids, exactly
        # as train_centroids collects them
        sample_ids = sorted(vecs)[: p["sample_size"]]
        X = np.array([vecs[i] for i in sample_ids], dtype=np.float64)
        raw = _kmeans_refine(X, raw, p["kmeans_iters"])
    cents = [[float(v) for v in row] for row in raw]

    def scores(vec):
        return [(_fold_dot(vec, cents[cid]), cid) for cid in range(len(cents))]

    # assignment kernel: per-row GEMV + numpy argmax (ties -> lowest id),
    # exactly as ivf_assignments computes it
    cents_np = np.asarray(raw, dtype=np.float64)
    assigned: dict[int, int] = {
        vid: int((cents_np @ np.asarray(vec, dtype=np.float64)).argmax())
        for vid, vec in vecs.items()
    }
    by_centroid: dict[int, list[int]] = defaultdict(list)
    for vid, cid in assigned.items():
        by_centroid[cid].append(vid)

    cand: dict[int, set[int]] = defaultdict(set)
    for qid in (i for i in vecs if i < 10):
        # sort_array(desc) on (score, cid) structs == sorted desc by tuple
        probes = [
            cid for _, cid in sorted(scores(vecs[qid]), reverse=True)[: p["nprobe"]]
        ]
        for cid in probes:
            for nid in by_centroid.get(cid, ()):
                if nid != qid:
                    cand[qid].add(nid)
    return _topk_py(cand, vecs, p["k"])


def oracle_audio_features(sf_dir: str) -> list[tuple]:
    """(url, n_bytes, sample_rate, n_samples, duration_ms, decoded,
    rms_0..rms_3) — same synth, same stdlib-wave decode, same numpy RMS
    ops as the Spark kernel, so the float32 frame values agree bit-wise
    before the shared round-to-6."""
    from ..spark.multimodal import _decode_wav, synth_tone_wav

    rows = []
    for doc_id, _text in load_documents(sf_dir):
        wav = synth_tone_wav(int(doc_id))
        rate, x = _decode_wav(wav)
        stride = max(len(x) // 4, 1)
        rms = [
            float(
                np.sqrt(np.mean(np.square(x[i * stride : (i + 1) * stride])))
            )
            if len(x[i * stride : (i + 1) * stride])
            else 0.0
            for i in range(4)
        ]
        # HALF_UP like Spark's F.round — Python round() is half-even and
        # would diverge on an exact decimal tie at the 6th digit (round-5
        # advice; same formulation as oracle_pii_density)
        rms32 = [
            math.floor(float(np.float32(v)) * 1e6 + 0.5) / 1e6 for v in rms
        ]
        rows.append(
            (
                str(doc_id),
                len(wav),
                rate,
                len(x),
                int(len(x) * 1000 / rate),
                "wav",
                *rms32,
            )
        )
    return rows


def oracle_compression_ratio(sf_dir: str) -> list[tuple]:
    """(doc_id, n_bytes, n_compressed, compression_ratio) — same zlib, same
    level, same container as the Spark kernel (textstats.compression_ratio)."""
    import zlib

    rows = []
    for doc_id, text in load_documents(sf_dir):
        raw = (text or "").encode("utf-8")
        comp = len(zlib.compress(raw, 6)) if raw else 0
        rows.append(
            (doc_id, len(raw), comp, comp / len(raw) if raw else 0.0)
        )
    return rows


def oracle_kmeans_assign(sf_dir: str) -> list[tuple]:
    """(id, centroid_id): trained-quantizer cluster assignment for EVERY
    embedding — the clustering face of the IVF machinery (semantic-dedup /
    topic-balancing building block). Mirrors train_centroids (lowest
    sample_size ids, spherical Lloyd) + ivf_assignments (per-row GEMV,
    argmax ties -> lowest centroid id) bit-exactly."""
    p = flagship.IVF_ANN
    vecs = {int(i): v for i, v in load_embeddings(sf_dir)}
    raw = _centroids(p["dim"], p["n_centroids"], 42)
    sample_ids = sorted(vecs)[: p["sample_size"]]
    X = np.array([vecs[i] for i in sample_ids], dtype=np.float64)
    raw = _kmeans_refine(X, raw, p["kmeans_iters"])
    cents_np = np.asarray(raw, dtype=np.float64)
    return [
        (vid, int((cents_np @ np.asarray(vec, dtype=np.float64)).argmax()))
        for vid, vec in sorted(vecs.items())
    ]


def oracle_semantic_dedup(sf_dir: str) -> list[tuple]:
    """(id, cid, is_dup): SemDeDup cluster-then-prune, mirroring
    similarity.semantic_dedup — train_centroids sample + Lloyd refine,
    GEMV argmax assignment (ties -> lowest cid), then within each cluster
    a row is a duplicate iff a SMALLER id in the same cluster has
    fold-order cosine >= threshold (keep-first-by-id)."""
    p = flagship.SEMANTIC_DEDUP
    vecs = {int(i): v for i, v in load_embeddings(sf_dir)}
    raw = _centroids(p["dim"], p["n_centroids"], 42)
    sample_ids = sorted(vecs)[:4096]
    X = np.array([vecs[i] for i in sample_ids], dtype=np.float64)
    raw = _kmeans_refine(X, raw, p["kmeans_iters"])
    cents_np = np.asarray(raw, dtype=np.float64)
    assigned = {
        vid: int((cents_np @ np.asarray(vec, dtype=np.float64)).argmax())
        for vid, vec in vecs.items()
    }
    by_cid: dict[int, list[int]] = defaultdict(list)
    for vid, cid in assigned.items():
        by_cid[cid].append(vid)
    out = []
    for vid in sorted(vecs):
        cid = assigned[vid]
        members = by_cid[cid]
        is_dup = False
        if len(members) <= p["max_cluster_size"]:
            is_dup = any(
                other < vid
                and _cosine_py(vecs[other], vecs[vid]) >= p["threshold"]
                for other in members
            )
        out.append((vid, cid, is_dup))
    return out


def oracle_embedding_neardup_lsh(sf_dir: str) -> list[tuple]:
    p = flagship.NEARDUP_LSH
    vecs = {int(i): v for i, v in load_embeddings(sf_dir)}
    buckets = _bucket_ids_py(vecs, p["dim"], p["n_planes"], p["tables"])
    pairs: set[tuple[int, int]] = set()
    for members in buckets.values():
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                pairs.add((ms[i], ms[j]))
    return [
        (a, b)
        for a, b in sorted(pairs)
        if _cosine_py(vecs[a], vecs[b]) >= p["threshold"]
    ]


# ---------------------------------------------------------------------------
# Knowledge graph (mentions -> LSH blocking -> Jaccard links -> CC -> triples)

_KG_NUM_HASHES = 15
_KG_BANDS = 5


def _native_entities(sf_dir: str) -> list[tuple[str, str, str]]:
    """(url, label, text) — the JVM regexp_extract_all scan, via python re
    (ASCII flag pins \\b and \\w to the Java-regex byte semantics)."""
    patterns = {
        label: re.compile(p, re.ASCII)
        for label, p in sorted(flagship.DOC_PATTERNS.items())
    }
    rows = []
    for doc_id, text in load_documents(sf_dir):
        for label, pat in patterns.items():
            for m in pat.finditer(text or ""):
                rows.append((str(doc_id), label, m.group(0)))
    return rows


def _norm_surface(s: str) -> str:
    """Mirror spark/kg.normalize_surface BIT-exactly: Spark's trim strips
    only ASCII spaces; whitespace class pinned to RE2's \\s = [ \\t\\n\\f\\r]
    (textstats.WS) — Python's Unicode strip()/\\s would diverge on
    \\x0B/NBSP surfaces (latent parity hazard; same pinned class as
    _winnow_fps_py)."""
    return re.sub(r"[ \t\n\f\r]+", " ", s.strip(" ").lower())


def _trigrams_py(norm: str) -> list[str]:
    padded = "^" + norm + "$"
    n = max(len(padded) - 2, 1)
    seen, out = set(), []
    for i in range(1, n + 1):
        t = padded[i - 1 : i + 2]
        if t not in seen:
            seen.add(t)
            out.append(t)
    return out


class _UnionFind:
    def __init__(self):
        self.parent: dict[int, int] = {}

    def find(self, x: int) -> int:
        root = x
        while self.parent.setdefault(root, root) != root:
            root = self.parent[root]
        while self.parent[x] != root:  # path compression
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


@_lru_cache(maxsize=2)
def oracle_winnow_fingerprints(sf_dir: str) -> list[tuple]:
    """(doc_id, fp) — winnowing replica (spark/dedup.py winnow_fingerprints)
    via the pinned murmur3 spark_hash over the same normalization.
    Cached per sf_dir: oracle_winnow_neardups consumes it too, and full
    generation used to run the corpus hash pass twice."""
    k, w = flagship.WINNOW["k"], flagship.WINNOW["window"]
    rows = []
    for doc_id, text in load_documents(sf_dir):
        # Spark: regexp_replace(lower(trim(text)), '[ \\t\\n\\f\\r]+', ' ') —
        # trim strips spaces only; class pinned to RE2 \s (textstats.WS)
        t = re.sub(r"[ \t\n\f\r]+", " ", (text or "").strip(" ").lower())
        n = max(len(t) - (k - 1), 1)
        hashes = [spark_hash(t[i : i + k]) for i in range(n)]
        nw = max(len(hashes) - (w - 1), 1)
        fps = {min(hashes[j : j + w]) for j in range(nw)}
        rows.extend((doc_id, fp) for fp in sorted(fps))
    return rows


def oracle_winnow_neardups(sf_dir: str) -> list[tuple]:
    """(id_a, id_b, n_shared) — posting-list replica of
    spark/dedup.py winnow_near_duplicates over the fingerprint rows."""
    cfg = flagship.WINNOW_NEARDUP
    postings: dict[int, list[int]] = defaultdict(list)
    for doc_id, fp in oracle_winnow_fingerprints(sf_dir):
        postings[fp].append(doc_id)
    pair_counts: dict[tuple[int, int], int] = defaultdict(int)
    for ids in postings.values():
        if len(ids) > cfg["max_postings"]:
            continue
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                pair_counts[(ids[i], ids[j])] += 1
    return sorted(
        (a, b, n)
        for (a, b), n in pair_counts.items()
        if n >= cfg["min_shared"]
    )


def oracle_bpe_encode(sf_dir: str) -> list[tuple]:
    """(doc_id, n_bpe_tokens, ids_hash) — the trained byte-level BPE vocab
    (core/bpe.default_vocab) applied single-threaded, md5 over the int64
    token-id bytes exactly like spark/textstats.bpe_encode."""
    import numpy as np

    from ..core.bpe import default_vocab

    vocab = default_vocab()
    rows = []
    for doc_id, text in load_documents(sf_dir):
        ids = np.asarray(vocab.encode(text or ""), dtype=np.int64)
        rows.append(
            (int(doc_id), len(ids), hashlib.md5(ids.tobytes()).hexdigest())
        )
    return rows


def oracle_stratified_sample(sf_dir: str) -> list[tuple]:
    """(doc_id, lang) — hash-bernoulli membership via the xxhash64 replica
    (spark/sampling.py stratified_sample: keep iff
    pmod(xxhash64(salt, doc_id), 1e6) < rate[lang] * 1e6)."""
    cfg = flagship.STRATIFIED_SAMPLE
    rows = []
    for doc_id, lang in load_document_langs(sf_dir):
        h = spark_xxhash64(cfg["salt"], ("long", doc_id)) % 1_000_000
        rate = cfg["rates"].get(lang, cfg["default_rate"])
        if h < int(rate * 1_000_000):
            rows.append((doc_id, lang))
    return sorted(rows)


@_lru_cache(maxsize=2)
def _kg_state(sf_dir: str):
    """(ents, mentions, hits, comp): the shared KG clustering state —
    cached per sf_dir (both q_kg_components and q_kg_triples consume it;
    full generation used to run the whole clustering twice).

    Replicates spark/kg.py mention_edges + connected_components exactly
    (LSH banding via the Spark-hash replicas; exact trigram Jaccard;
    min-node-id components including virtual alias nodes)."""
    ents = _native_entities(sf_dir)

    # mentions: distinct (label, text); id = xxhash64(label, text)
    mentions: dict[int, tuple[str, str, str]] = {}
    for _, label, text in ents:
        mid = spark_xxhash64(label, text)
        mentions.setdefault(mid, (label, text, _norm_surface(text)))

    tri = {mid: _trigrams_py(norm) for mid, (_, _, norm) in mentions.items()}

    # MinHash signature: sig[i] = min over trigrams of hash(t, i)
    rows_per_band = _KG_NUM_HASHES // _KG_BANDS
    sig = {
        mid: [
            min(spark_hash(t, ("int", i)) for t in tris)
            for i in range(_KG_NUM_HASHES)
        ]
        for mid, tris in tri.items()
    }

    # band buckets keyed (band, band_hash, label), as lsh_candidate_pairs
    buckets: dict[tuple[int, int, str], list[int]] = defaultdict(list)
    for mid, s in sig.items():
        label = mentions[mid][0]
        for b in range(_KG_BANDS):
            bh = spark_hash_int_array(s[b * rows_per_band : (b + 1) * rows_per_band])
            buckets[(b, bh, label)].append(mid)

    cand: set[tuple[int, int]] = set()
    for ids in buckets.values():
        if len(ids) > flagship.KG_MAX_BUCKET:
            continue  # semantic skew guard, same rule as lsh_candidate_pairs
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                cand.add((ids[i], ids[j]))

    # exact trigram Jaccard on candidates
    uf = _UnionFind()
    for a, b in cand:
        ta, tb = set(tri[a]), set(tri[b])
        score = len(ta & tb) / len(ta | tb)
        if score >= flagship.KG_THRESHOLD:
            uf.union(a, b)

    # alias dictionary: exact-norm hits + virtual per-entry nodes
    alias_norm = {
        _norm_surface(surface): cid for surface, cid in flagship.ALIAS_DICT
    }
    hits: dict[int, str] = {}
    for mid, (_, _, norm) in mentions.items():
        cid = alias_norm.get(norm)
        if cid is not None:
            hits[mid] = cid
            uf.union(mid, spark_xxhash64("alias:" + cid))

    comp = {mid: uf.find(mid) for mid in mentions}
    return ents, mentions, hits, comp


def oracle_kg_components(sf_dir: str) -> list[tuple]:
    """(id, component) per mention — the directly-queryable clustering
    (spark/kg.py mention_components)."""
    _, _, _, comp = _kg_state(sf_dir)
    return sorted(comp.items())


def oracle_kg_triples(sf_dir: str) -> list[tuple]:
    """(subj, pred, obj) — replicates spark/kg.py build_triples end-to-end
    (clustering from _kg_state; alias-dictionary canonicalization)."""
    ents, mentions, hits, comp = _kg_state(sf_dir)

    # canonical per component: min alias canonical_id if any, else min
    # (norm, text) member surface
    comp_alias: dict[int, str] = {}
    for mid, cid in hits.items():
        c = comp[mid]
        if c not in comp_alias or cid < comp_alias[c]:
            comp_alias[c] = cid
    comp_rep: dict[int, tuple[str, str]] = {}
    for mid, (_, text, norm) in mentions.items():
        c = comp[mid]
        key = (norm, text)
        if c not in comp_rep or key < comp_rep[c]:
            comp_rep[c] = key
    canonical = {
        mid: comp_alias.get(comp[mid], comp_rep[comp[mid]][1]) for mid in mentions
    }

    triples: set[tuple[str, str, str]] = set()
    for url, label, text in ents:
        mid = spark_xxhash64(label, text)
        triples.add((url, "HAS_" + label, canonical[mid]))

    # group membership (matching_urls over the native entities)
    tree = parse_query(flagship.GROUP_QUERY)
    by_url: dict[str, dict[str, list]] = defaultdict(lambda: defaultdict(list))
    for url, label, text in ents:
        by_url[url][label].append(SimpleNamespace(text=text))
    for url, label_map in by_url.items():
        if tree.matches(label_map):
            triples.add((url, "IN_GROUP", "sparky"))

    return sorted(triples)


def oracle_kg_kcore(sf_dir: str) -> list[tuple]:
    """(node, deg) — the k=2 core of the capped co-occurrence graph,
    peeled in plain Python over the same triples oracle_kg_triples
    emits (cap mirrors the q_kg_cooccurrence SQL: per-subj 20
    lexicographically-smallest objects)."""
    triples = oracle_kg_triples(sf_dir)
    by_subj: dict[str, set[str]] = defaultdict(set)
    for subj, _pred, obj in triples:
        by_subj[subj].add(obj)
    edges: set[tuple[str, str]] = set()
    for objs in by_subj.values():
        capped = sorted(objs)[:20]
        for i, a in enumerate(capped):
            for b in capped[i + 1:]:
                edges.add((a, b))
    k = 2
    while True:
        deg: dict[str, int] = defaultdict(int)
        for a, b in edges:
            deg[a] += 1
            deg[b] += 1
        keep = {n for n, d in deg.items() if d >= k}
        nxt = {(a, b) for a, b in edges if a in keep and b in keep}
        if nxt == edges:
            break
        edges = nxt
    deg = defaultdict(int)
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    return sorted(deg.items())


def oracle_kg_truss(sf_dir: str) -> list[tuple]:
    """(node_a, node_b, support) — the k=3 truss of the capped
    co-occurrence graph (every edge closes >= 1 triangle within the
    truss), peeled in plain Python over the same triples
    oracle_kg_triples emits; support is the in-truss triangle count at
    the fixpoint (cap mirrors the q_kg_cooccurrence SQL: per-subj 20
    lexicographically-smallest objects)."""
    triples = oracle_kg_triples(sf_dir)
    by_subj: dict[str, set[str]] = defaultdict(set)
    for subj, _pred, obj in triples:
        by_subj[subj].add(obj)
    edges: set[tuple[str, str]] = set()
    for objs in by_subj.values():
        capped = sorted(objs)[:20]
        for i, a in enumerate(capped):
            for b in capped[i + 1:]:
                edges.add((a, b))
    k = 3
    sup: dict[tuple[str, str], int] = {}
    while True:
        adj: dict[str, set[str]] = defaultdict(set)
        for a, b in edges:
            adj[a].add(b)
            adj[b].add(a)
        sup = {(a, b): len(adj[a] & adj[b]) for a, b in edges}
        nxt = {e for e in edges if sup[e] >= k - 2}
        if nxt == edges:
            break
        edges = nxt
    return sorted((a, b, sup[(a, b)]) for a, b in edges)


def oracle_pq_ann(sf_dir: str) -> list[tuple]:
    """(query_id, neighbor_id, rnk): product-quantization ADC top-k,
    mirroring similarity.pq_codebooks (id-ordered sample, per-block L2
    Lloyd) + pq_encode (dot-minus-half-norm argmax GEMV) + pq_topk
    (LUT-sum / |x̂| scores, ties -> lowest neighbor id) bit-exactly — the
    same numpy calls in the same shapes."""
    from ..spark.similarity import _pq_encode_np, _pq_train

    p = flagship.PQ_ANN
    vecs = {int(i): v for i, v in load_embeddings(sf_dir)}
    sample_ids = sorted(vecs)[: p["sample_size"]]
    X = np.array([vecs[i] for i in sample_ids], dtype=np.float64)
    books = _pq_train(X, p["n_blocks"], p["n_codes"], p["kmeans_iters"])
    biases = 0.5 * (books**2).sum(axis=2)
    norm2 = (books**2).sum(axis=2)
    n_blocks, _, ds = books.shape
    b_idx = np.arange(n_blocks)

    codes = {
        vid: _pq_encode_np(np.asarray(vec, dtype=np.float64), books, biases)
        for vid, vec in vecs.items()
    }
    out = []
    for qid in sorted(i for i in vecs if i < p["n_queries"]):
        qv = np.asarray(vecs[qid], dtype=np.float64)
        lut = np.stack(
            [books[b] @ qv[b * ds:(b + 1) * ds] for b in range(n_blocks)]
        )
        scored = []
        for nid, cd in codes.items():
            if nid == qid:
                continue
            n2 = norm2[b_idx, cd].sum()
            s = lut[b_idx, cd].sum() / np.sqrt(n2) if n2 > 0.0 else 0.0
            scored.append((float(s), nid))
        scored.sort(key=lambda sn: (-sn[0], sn[1]))
        for rank, (_, nid) in enumerate(scored[: p["k"]], start=1):
            out.append((qid, nid, rank))
    return out


def oracle_dup_clusters(sf_dir: str) -> list[tuple]:
    """(doc_id, cluster_id, cluster_size, is_kept): union-find transitive
    closure over the SAME minhash near-dup pairs oracle_minhash_neardups
    emits — cluster_id = min doc_id in the component, exactly the
    alternating-star CC's label choice."""
    pairs = oracle_minhash_neardups(sf_dir)
    uf = _UnionFind()
    nodes: set[int] = set()
    for id_a, id_b, _ in pairs:
        uf.union(int(id_a), int(id_b))
        nodes.add(int(id_a))
        nodes.add(int(id_b))
    by_root: dict[int, list[int]] = defaultdict(list)
    for n in nodes:
        by_root[uf.find(n)].append(n)
    out = []
    for root, members in by_root.items():
        cid = min(members)
        for m in members:
            out.append((m, cid, len(members), m == cid))
    return sorted(out)
