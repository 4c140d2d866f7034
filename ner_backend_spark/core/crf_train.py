"""Trained CRF emissions: hashed lexical/shape features + softmax weights.

Closes the last partial SURVEY §2 row (P3): the reference's production
tagger is a learned CNN+CRF (internal/core/onnx.go:237-303) whose weights
are AES-encrypted model assets (onnx.go:155-196); this module trains a
small deterministic replacement on the synthesized labeled data in
crf_data.py, keeping the operator contract — ``emissions(text,
token_offsets) -> [L, T]`` feeding the ported Viterbi decode — identical.

The featurizer is shared verbatim between training and inference (train/
serve skew would silently destroy the quality gate), and every step is a
pure function of fixed seeds, so `tools/train_crf.py` regenerates a
byte-identical artifact (crf_weights.npz) on any machine.

Feature set (fixed width F per token; all hashed into D buckets):
bias, subword text, word text, word shape (run-compressed char classes),
word prefix/suffix, length bucket, prev/next word text + shape, and a
first-subword flag. Shape features make digit patterns (SSN vs phone vs
card) separable; context features disambiguate bare numbers (credit
scores) by their lexical anchors.
"""

from __future__ import annotations

import hashlib
import os
from functools import lru_cache

import numpy as np

from .crf import IDX2TAG, O_INDEX, get_word_ids

FEATURE_DIM = 8192  # hash buckets
NUM_FEATURES = 12  # fixed per-token feature count (padded matrix)
WEIGHTS_FILE = os.path.join(os.path.dirname(__file__), "crf_weights.npz")
ARTIFACT_VERSION = "crf-v1"


def _h(s: str) -> int:
    return (
        int.from_bytes(hashlib.blake2b(s.encode("utf-8"), digest_size=8).digest(), "big")
        % FEATURE_DIM
    )


def word_shape(w: str) -> str:
    """Run-compressed character classes: digits->9, lower->a, upper->A,
    other kept. '012-345-6789' -> '9-9-9'; 'alice.smith@x.com' ->
    'a.a@a.a'; 'Boston' -> 'Aa'."""
    out: list[str] = []
    for ch in w:
        c = "9" if ch.isdigit() else "a" if ch.islower() else "A" if ch.isalpha() else ch
        if not out or out[-1] != c:
            out.append(c)
    return "".join(out)


class _WordFeatureCache:
    """Per-call cache: each distinct word is hashed once per feature role."""

    def __init__(self) -> None:
        self.local: dict[str, tuple[int, ...]] = {}
        self.prev: dict[str, tuple[int, int]] = {}
        self.next: dict[str, tuple[int, int]] = {}

    def local_feats(self, w: str) -> tuple[int, ...]:
        got = self.local.get(w)
        if got is None:
            lw = w.lower()
            sh = word_shape(w)
            got = (
                _h(f"w={lw}"),
                _h(f"shape={sh}"),
                _h(f"pre={lw[:2]}"),
                _h(f"suf={lw[-2:]}"),
                _h(f"len={min(len(w), 15)}"),
            )
            self.local[w] = got
        return got

    def prev_feats(self, w: str) -> tuple[int, int]:
        got = self.prev.get(w)
        if got is None:
            got = (_h(f"prevw={w.lower()}"), _h(f"prevshape={word_shape(w)}"))
            self.prev[w] = got
        return got

    def next_feats(self, w: str) -> tuple[int, int]:
        got = self.next.get(w)
        if got is None:
            got = (_h(f"nextw={w.lower()}"), _h(f"nextshape={word_shape(w)}"))
            self.next[w] = got
        return got


_BIAS = _h("bias")
_FIRST_SUB = (_h("first_sub=0"), _h("first_sub=1"))
_BOUNDARY = "</s>"


def featurize(
    text: bytes,
    token_offsets: list[tuple[int, int]],
    word_offsets: list[tuple[int, int]] | None = None,
    cache: _WordFeatureCache | None = None,
    tok_cache: dict[bytes, int] | None = None,
) -> np.ndarray:
    """[L, NUM_FEATURES] int32 feature-bucket indices for a sentence.

    ``word_offsets`` defaults to whitespace runs of ``text`` — identical to
    the cleaned-span words inside CnnCrfModel.predict, because cleaned text
    is single-space-joined tokens (preprocess.go:50 semantics). The caches
    are pure memoization (hash values never depend on them); callers that
    process many documents should pass persistent ones.
    """
    if word_offsets is None:
        word_offsets = _whitespace_word_offsets(text)
    cache = cache or _WordFeatureCache()
    if tok_cache is None:
        tok_cache = {}
    words = [text[s:e].decode("utf-8", "replace") for s, e in word_offsets]
    word_ids = get_word_ids(word_offsets, token_offsets)
    out = np.empty((len(token_offsets), NUM_FEATURES), dtype=np.int32)
    prev_word_id = -2
    for i, (s, e) in enumerate(token_offsets):
        wid = word_ids[i]
        w = words[wid] if wid >= 0 else _BOUNDARY
        pw = words[wid - 1] if wid > 0 else _BOUNDARY
        nw = words[wid + 1] if 0 <= wid < len(words) - 1 else _BOUNDARY
        raw = text[s:e]
        t_idx = tok_cache.get(raw)
        if t_idx is None:
            tok = raw.decode("utf-8", "replace").strip().lower()
            t_idx = _h(f"t={tok}")
            tok_cache[raw] = t_idx
        first = 1 if wid != prev_word_id else 0
        prev_word_id = wid
        row = out[i]
        row[0] = _BIAS
        row[1] = t_idx
        row[2:7] = cache.local_feats(w)
        row[7:9] = cache.prev_feats(pw)
        row[9:11] = cache.next_feats(nw)
        row[11] = _FIRST_SUB[first]
    return out


def _whitespace_word_offsets(text: bytes) -> list[tuple[int, int]]:
    offs: list[tuple[int, int]] = []
    i, n = 0, len(text)
    while i < n:
        if text[i : i + 1].isspace():
            i += 1
            continue
        j = i
        while j < n and not text[j : j + 1].isspace():
            j += 1
        offs.append((i, j))
        i = j
    return offs


# ---------------------------------------------------------------------------
# training


def _assemble_dataset(seed: int = 13, n_sentences: int = 2000):
    """(X [N,F] indices, y [N], tag bigram counts) over BPE tokens."""
    from .bpe import default_vocab
    from .crf_data import generate_labeled_sentences

    vocab = default_vocab()
    tag_idx = {t: i for i, t in enumerate(IDX2TAG)}
    xs, ys = [], []
    bigrams = np.zeros((len(IDX2TAG), len(IDX2TAG)), dtype=np.float64)
    starts = np.zeros(len(IDX2TAG), dtype=np.float64)
    ends = np.zeros(len(IDX2TAG), dtype=np.float64)
    cache = _WordFeatureCache()
    for sent in generate_labeled_sentences(n_sentences, seed):
        text = " ".join(w for w, _ in sent).encode("utf-8")
        word_offsets = _whitespace_word_offsets(text)
        token_offsets = [
            (s, e) for _, s, e in vocab.encode_bytes_with_offsets(text)
        ]
        if not token_offsets:
            continue
        word_ids = get_word_ids(word_offsets, token_offsets)
        labels = [tag_idx[t] for _, t in sent]
        tok_labels = np.array(
            [labels[w] if w >= 0 else O_INDEX for w in word_ids], dtype=np.int64
        )
        xs.append(featurize(text, token_offsets, word_offsets, cache))
        ys.append(tok_labels)
        starts[tok_labels[0]] += 1
        ends[tok_labels[-1]] += 1
        np.add.at(bigrams, (tok_labels[:-1], tok_labels[1:]), 1.0)
    return np.concatenate(xs), np.concatenate(ys), bigrams, starts, ends


def train_emissions(
    seed: int = 13,
    n_sentences: int = 2000,
    epochs: int = 30,
    lr: float = 0.5,
) -> dict[str, np.ndarray]:
    """Full-batch Adagrad softmax regression; returns the artifact arrays.

    Deterministic: fixed data, zero init, fixed schedule — no RNG in the
    optimizer at all, so retraining reproduces the artifact bit-for-bit.
    """
    X, y, bigrams, starts, ends = _assemble_dataset(seed, n_sentences)
    n, t = len(y), len(IDX2TAG)
    W = np.zeros((FEATURE_DIM, t), dtype=np.float64)
    G = np.full((FEATURE_DIM, t), 1e-6, dtype=np.float64)
    onehot = np.zeros((n, t), dtype=np.float64)
    onehot[np.arange(n), y] = 1.0
    flat_idx = X.reshape(-1)
    for _ in range(epochs):
        logits = W[X].sum(axis=1)
        logits -= logits.max(axis=1, keepdims=True)
        p = np.exp(logits)
        p /= p.sum(axis=1, keepdims=True)
        grad_rows = (p - onehot) / n  # [N, T]
        dW = np.zeros_like(W)
        np.add.at(dW, flat_idx, np.repeat(grad_rows, NUM_FEATURES, axis=0))
        G += dW * dW
        W -= lr * dW / np.sqrt(G)
    # transitions: smoothed log-probabilities of observed tag bigrams
    trans = np.log((bigrams + 0.1) / (bigrams.sum(axis=1, keepdims=True) + 0.1 * t))
    start = np.log((starts + 0.1) / (starts.sum() + 0.1 * t))
    end = np.log((ends + 0.1) / (ends.sum() + 0.1 * t))
    return {
        "weights": W.astype(np.float32),
        "transitions": trans.astype(np.float32),
        "start_probs": start.astype(np.float32),
        "end_probs": end.astype(np.float32),
    }


def save_artifact(arrays: dict[str, np.ndarray], path: str = WEIGHTS_FILE) -> None:
    np.savez_compressed(path, version=ARTIFACT_VERSION, **arrays)


@lru_cache(maxsize=1)
def load_artifact(path: str = WEIGHTS_FILE) -> dict[str, np.ndarray]:
    """Load the weights; missing artifact is an ERROR, not a retrain.

    Reads through importlib.resources so the artifact also resolves when
    the package ships as a ``--py-files`` zip (spark-submit deploy path:
    executors import from the zip, where plain os.path fails).

    A missing artifact used to fall back to a silent in-process retrain —
    but on a cluster that means EVERY executor Python worker retrains
    (~30s each, per process), a hard-to-diagnose fleet-wide slowdown that
    masks the real bug (a packaging omission), and the retrained result
    skipped the ARTIFACT_VERSION check (round-4 advice). A missing
    artifact raises with the fix spelled out; ``tools/train_crf.py``
    regenerates it.
    """
    import io

    data = None
    if os.path.exists(path):
        with open(path, "rb") as f:
            data = f.read()
    else:
        try:
            from importlib import resources

            ref = resources.files("ner_backend_spark.core").joinpath(
                "crf_weights.npz"
            )
            data = ref.read_bytes()
        except Exception:
            data = None
    if data is None:
        raise FileNotFoundError(
            f"crf_weights.npz not found at {path} or via "
            "importlib.resources('ner_backend_spark.core') — the artifact "
            "was omitted from the deployment package. Ship it with the "
            "--py-files zip (tools/submit_pipeline.py includes it) or run "
            "tools/train_crf.py to regenerate."
        )
    with np.load(io.BytesIO(data)) as z:
        if str(z["version"]) != ARTIFACT_VERSION:
            raise ValueError(
                f"crf_weights artifact version {z['version']} != "
                f"{ARTIFACT_VERSION}; re-run tools/train_crf.py"
            )
        return {k: z[k] for k in
                ("weights", "transitions", "start_probs", "end_probs")}


class TrainedEmissionModel:
    """emissions = sum of weight rows over the token's hashed features.

    Holds persistent feature caches across documents (web corpora repeat
    words massively; rebuilding per doc cost ~40% of kernel time), bounded
    so a pathological vocabulary can't grow executor memory unboundedly.
    """

    _CACHE_LIMIT = 200_000

    def __init__(self, weights: np.ndarray):
        self.W = weights
        self.num_tags = weights.shape[1]
        self._cache = _WordFeatureCache()
        self._tok_cache: dict[bytes, int] = {}

    def __getstate__(self):  # caches are memo-only; don't ship them
        return {"W": self.W, "num_tags": self.num_tags}

    def __setstate__(self, state):
        self.__init__(state["W"])

    def emissions(self, text: bytes, token_offsets) -> np.ndarray:
        if not token_offsets:
            return np.zeros((0, self.num_tags), dtype=np.float32)
        if len(self._cache.local) > self._CACHE_LIMIT:
            self._cache = _WordFeatureCache()
        if len(self._tok_cache) > self._CACHE_LIMIT:
            self._tok_cache = {}
        idx = featurize(
            text, list(token_offsets), cache=self._cache,
            tok_cache=self._tok_cache,
        )
        return self.W[idx].sum(axis=1)
