"""Tests for dedup / similarity / textstats operators."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from ner_backend_spark.spark import dedup, similarity, textstats

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (2, "the quick brown fox jumps over a lazy dog"),  # near dup of 0
    (3, "pack my box with five dozen liquor jugs"),
    (4, "sphinx of black quartz judge my vow"),
    (5, "the quick brown fox jumps over the lazy cat"),  # near dup of 0
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"]).cache()


def test_exact_duplicates(docs):
    out = dedup.exact_duplicates(docs, "doc_id", "text").collect()
    by_id = {r["id"]: r for r in out}
    assert by_id[0]["group_size"] == 2
    assert by_id[1]["canonical_id"] == 0
    assert by_id[3]["group_size"] == 1


def test_minhash_near_duplicates(docs):
    pairs = dedup.near_duplicates_minhash(
        docs, "doc_id", "text", threshold=0.5, num_hashes=64, bands=16
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 1) in found  # exact dup -> est_jaccard == 1.0
    est = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in pairs}
    assert est[(0, 1)] == 1.0
    # near dups share most shingles; unrelated docs must not appear
    assert (3, 4) not in found


def test_token_jaccard_matches_manual(spark, docs):
    pairs = spark.createDataFrame([(0, 2), (0, 3)], ["id_a", "id_b"])
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.token_jaccard(pairs, docs, "doc_id", "text").collect()
    }
    a = set(DOCS[0][1].split())
    b = set(DOCS[2][1].split())
    assert out[(0, 2)] == pytest.approx(len(a & b) / len(a | b))
    assert out[(0, 3)] < 0.1


def test_simhash_near_duplicates(docs):
    out = dedup.simhash_near_duplicates(docs, "doc_id", "text", max_hamming=12)
    found = {(r["id_a"], r["id_b"]): r["hamming"] for r in out.collect()}
    assert found[(0, 1)] == 0  # identical text -> identical simhash
    assert (0, 5) in found or (0, 2) in found  # near dup within distance


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(7)
    base = rng.normal(size=(20, 16))
    rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
    return spark.createDataFrame(rows, ["vec_id", "embedding"]).cache(), base


def test_brute_force_topk_matches_numpy(spark, vectors):
    df, base = vectors
    out = similarity.brute_force_topk(df, df.filter(F.col("vec_id") < 3), k=5)
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in out.collect()
    }
    norms = base / np.linalg.norm(base, axis=1, keepdims=True)
    sims = norms @ norms.T
    for q in range(3):
        order = [
            i for i in np.argsort(-sims[q]) if i != q
        ][:5]
        for rank, nid in enumerate(order, start=1):
            got_nid, got_cos = got[(q, rank)]
            assert got_nid == nid
            assert got_cos == pytest.approx(sims[q, nid], abs=1e-9)


def test_lsh_topk_recall(spark, vectors):
    df, base = vectors
    queries = df.filter(F.col("vec_id") < 3)
    exact = similarity.brute_force_topk(df, queries, k=3)
    approx = similarity.lsh_topk(df, queries, dim=16, k=3, tables=8, n_planes=4)
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5  # generous: tiny vectors, few tables


def test_ivf_assignments_cover_all(spark, vectors):
    df, _ = vectors
    out = similarity.ivf_assignments(df, dim=16, n_centroids=4)
    rows = out.collect()
    assert len(rows) == 20
    assert all(0 <= r["centroid_id"] < 4 for r in rows)


def test_ivf_topk_recall(spark, vectors):
    df, _ = vectors
    queries = df.filter(F.col("vec_id") < 3)
    exact = similarity.brute_force_topk(df, queries, k=3)
    approx = similarity.ivf_topk(
        df, queries, dim=16, k=3, n_centroids=4, nprobe=2
    )
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    # nprobe=2 of 4 centroids: every returned pair must be a real vector and
    # ranks must be dense per query
    assert len(exact_set & approx_set) / len(exact_set) >= 0.4
    by_q = {}
    for r in approx.collect():
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_embedding_near_duplicates_exact_matches_numpy(spark, vectors):
    df, base = vectors
    norms = base / np.linalg.norm(base, axis=1, keepdims=True)
    sims = norms @ norms.T
    want = {
        (a, b)
        for a in range(20)
        for b in range(a + 1, 20)
        if sims[a, b] >= 0.3
    }
    out = similarity.embedding_near_duplicates(df, threshold=0.3, method="exact")
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert got == want


def test_embedding_near_duplicates_lsh_subset_of_exact(spark, vectors):
    df, base = vectors
    exact = similarity.embedding_near_duplicates(
        df, threshold=0.3, method="exact"
    )
    lsh = similarity.embedding_near_duplicates(
        df, threshold=0.3, method="lsh", dim=16, n_planes=4, tables=8
    )
    exact_set = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    lsh_set = {(r["id_a"], r["id_b"]) for r in lsh.collect()}
    assert lsh_set <= exact_set  # blocking only prunes, never invents
    if exact_set:
        assert len(lsh_set) / len(exact_set) >= 0.5  # recall with 8 tables


def test_textstats(spark):
    df = spark.createDataFrame(
        [(1, "The quick brown fox. It was THE dog!"), (2, ""), (3, "der die das und ist")],
        ["doc_id", "text"],
    )
    out = textstats.add_language_id(
        textstats.add_quality_scores(textstats.add_token_stats(df))
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["n_tokens"] == 8
    assert rows[2]["n_tokens"] == 0
    assert rows[1]["lang_pred"] == "en"
    assert rows[3]["lang_pred"] == "de"
    assert 0.0 <= rows[1]["quality_score"] <= 1.0


def test_gopher_quality_rules(spark):
    """Gopher rule set on hand-built docs exercising each rule branch —
    including the line-based rules the single-line documents fixture can't
    reach (bullets, ellipsis line endings)."""
    prose = " ".join(
        ["the data and moves to the sink of that batch have run with care"]
        * 5
    )  # 70 words, all alpha, >= 2 gopher stopwords
    bullets = "\n".join(f"- item {i}" for i in range(10))
    ellipsis = "\n".join(f"line {i} trails off..." for i in range(10))
    symbols = " ".join(["##word"] * 60)
    short = "too short"
    df = spark.createDataFrame(
        [(1, prose), (2, bullets), (3, ellipsis), (4, symbols), (5, short)],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in textstats.add_gopher_quality(df).collect()
    }
    assert rows[1]["gopher_keep"] is True
    assert rows[1]["n_words"] == 70
    assert rows[1]["alpha_word_frac"] == 1.0
    assert rows[1]["n_gopher_stopwords"] >= 2
    assert rows[2]["bullet_line_frac"] == 1.0 and not rows[2]["gopher_keep"]
    assert rows[3]["ellipsis_line_frac"] == 1.0 and not rows[3]["gopher_keep"]
    assert rows[4]["symbol_word_ratio"] >= 0.1 and not rows[4]["gopher_keep"]
    assert rows[5]["n_words"] == 2 and not rows[5]["gopher_keep"]


def test_repetition_stats(spark):
    rep_lines = "unique one\ndup line\ndup line\ndup line"  # 4 lines, 2 distinct
    rep_bigram = "spam egg " * 30 + "end"  # 'egg spam'/'spam egg' dominate
    distinct = "a b c d e f g h"
    df = spark.createDataFrame(
        [(1, rep_lines), (2, rep_bigram), (3, distinct), (4, "")],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r for r in textstats.add_repetition_stats(df).collect()
    }
    assert abs(rows[1]["dup_line_frac"] - 0.5) < 1e-9
    assert rows[2]["top_bigram_frac"] > 0.4  # one bigram covers ~half the slots
    assert rows[3]["dup_word_frac"] == 0.0
    assert rows[3]["dup_line_frac"] == 0.0
    assert rows[4]["top_bigram_frac"] == 0.0  # empty text: no bigrams

    # plan contract: pure codegen operators — no Python execution nodes
    plan = textstats.add_repetition_stats(
        textstats.add_gopher_quality(df)
    )._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_common_ngrams(spark):
    """Cross-doc boilerplate mining: a phrase shared by two docs surfaces
    with exact doc/occurrence counts; singleton grams are filtered; short
    docs contribute nothing."""
    df = spark.createDataFrame(
        [
            (1, "the same boilerplate footer text here"),
            (2, "intro words then the same boilerplate footer appears"),
            (3, "completely different content entirely now"),
            (4, "ab"),  # < n words
            (5, "the same boilerplate the same boilerplate"),  # twice in one doc
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["ngram"]: (r["n_docs"], r["n_occurrences"])
        for r in dedup.common_ngrams(df, "doc_id", "text", n=3, min_docs=2).collect()
    }
    assert rows["the same boilerplate"] == (3, 4)  # docs 1,2,5 (5 has it twice)
    assert rows["same boilerplate footer"] == (2, 2)
    assert "completely different content" not in rows  # single doc
    # cap: a doc's grams beyond max_grams_per_doc are ignored
    long_doc = " ".join(f"w{i}" for i in range(600))
    df2 = spark.createDataFrame(
        [(1, long_doc), (2, long_doc)], ["doc_id", "text"]
    )
    capped = dedup.common_ngrams(
        df2, "doc_id", "text", n=3, min_docs=2, max_grams_per_doc=100
    )
    assert capped.count() == 100


def test_compression_ratio(spark):
    """Low-entropy docs compress far below prose; empty text reports 0."""
    import random

    rng = random.Random(7)
    prose = " ".join(
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(7))
        for _ in range(200)
    )
    df = spark.createDataFrame(
        [(1, "spam " * 400), (2, prose), (3, "")],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in textstats.compression_ratio(df, "doc_id", "text").collect()
    }
    assert rows[1]["compression_ratio"] < 0.05  # pure repetition
    assert rows[2]["compression_ratio"] > 0.5  # random letters barely compress
    assert rows[3] == (3, 0, 0, 0.0)
    assert rows[2]["n_bytes"] == len(prose.encode())


def test_decontaminate(spark):
    """8-gram overlap with a benchmark set: exact hit counts, clean docs
    kept with zero, short docs can't be flagged."""
    phrase = "one two three four five six seven eight"
    df = spark.createDataFrame(
        [
            (1, f"intro {phrase} outro words here"),
            (2, "totally unrelated content with plenty of distinct words okay"),
            (3, "short doc"),
            (4, phrase),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame([(f"prefix {phrase} suffix",)], ["text"])
    rows = {
        r["doc_id"]: r
        for r in dedup.decontaminate(df, bench, "doc_id", "text", n=8).collect()
    }
    assert set(rows) == {1, 2, 3, 4}
    assert rows[1]["contaminated"] and rows[1]["n_contaminated_grams"] == 1
    assert rows[4]["contaminated"] and rows[4]["n_contaminated_grams"] == 1
    assert not rows[2]["contaminated"] and rows[2]["n_contaminated_grams"] == 0
    assert not rows[3]["contaminated"]


def test_unigram_logppl_known_values(spark):
    """Hand-computable corpus: p(token) from the corpus itself, per-doc
    avg(-ln p)."""
    import math

    df = spark.createDataFrame(
        [(1, "a a a"), (2, "b")], ["doc_id", "text"]
    )
    rows = {
        r["doc_id"]: r
        for r in textstats.unigram_logppl(df, "doc_id", "text").collect()
    }
    # corpus: a:3, b:1, total 4
    assert rows[1]["n_tokens"] == 3
    assert abs(rows[1]["avg_neg_log_p"] - round(-math.log(3 / 4), 4)) < 1e-9
    assert abs(rows[2]["avg_neg_log_p"] - round(-math.log(1 / 4), 4)) < 1e-9
    # rarer tokens -> higher score (the curation ordering the signal exists for)
    assert rows[2]["avg_neg_log_p"] > rows[1]["avg_neg_log_p"]


def _py_words(text):
    import re as _re

    # mirror Java \s (ASCII-only) and Spark trim (spaces), NOT Python's
    # unicode-aware .split()/.strip()
    t = text.strip(" \t\n\f\r")
    return _re.split(r"[ \t\n\f\r]+", t.lower()) if t else []


def _py_lines(text):
    return [ln for ln in text.split("\n") if ln.strip(" ") != ""]


def test_curation_ops_vs_independent_python_reference(spark):
    """The Spark expression formulations (zip_with bigrams, sort+run-length
    mode, HOF ratios) checked against INDEPENDENT pure-Python formulations
    (Counter-based mode, set arithmetic) over a diverse generated corpus —
    a different algorithm agreeing on the same numbers, complementing the
    DuckDB oracle which shares the expression shape."""
    import math
    import random
    from collections import Counter

    rng = random.Random(42)
    vocab = ["the", "of", "and", "data", "spark", "join", "x9", "ü", "éa"]
    docs = []
    for i in range(40):
        words = [rng.choice(vocab) for _ in range(rng.randrange(0, 120))]
        text = " ".join(words)
        if i % 4 == 1:  # multi-line with dups and bullets
            lines = [" ".join(words[j : j + 8]) for j in range(0, len(words), 8)]
            lines += lines[: len(lines) // 2] + ["- bullet item", "trails..."]
            text = "\n".join(lines)
        if i % 7 == 2:
            text += " ### " + "... " * 3
        docs.append((i, text))
    docs.append((97, "words with a trailing newline\n"))  # round-4 review:
    # F.trim strips only spaces — boundary \n/\t must not create '' tokens
    docs.append((96, "\tleading tab and newline tail\n\n"))
    docs.append((95, "\n\n"))
    # unicode NBSP/em-space are NOT whitespace to Java \s, RE2 \s, or the
    # python mirror — they must survive as token characters on all three
    docs.append((94, "nbsp joined and emspace\n"))
    docs.append((98, ""))
    docs.append((99, "   "))
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    rep = {
        r["doc_id"]: r
        for r in textstats.add_repetition_stats(df).drop("text").collect()
    }
    gq = {
        r["doc_id"]: r
        for r in textstats.add_gopher_quality(df).drop("text").collect()
    }
    for doc_id, text in docs:
        words = _py_words(text)
        lines = _py_lines(text)
        nw1, nl1 = max(len(words), 1), max(len(lines), 1)
        head = words[:500]
        bigrams = [f"{a} {b}" for a, b in zip(head, head[1:])]
        top = (
            max(Counter(bigrams).values()) / len(bigrams) if bigrams else 0.0
        )
        r = rep[doc_id]
        assert math.isclose(r["dup_line_frac"], 1 - len(set(lines)) / nl1)
        assert math.isclose(r["dup_word_frac"], 1 - len(set(words)) / nw1)
        assert math.isclose(r["top_bigram_frac"], top), (doc_id, text[:50])

        g = gq[doc_id]
        assert g["n_words"] == len(words)
        assert math.isclose(
            g["mean_word_len"], sum(len(w) for w in words) / nw1
        )
        n_sym = text.count("#") + (len(text) - len(text.replace("...", ""))) / 3
        assert math.isclose(g["symbol_word_ratio"], n_sym / nw1)
        assert math.isclose(
            g["alpha_word_frac"],
            sum(1 for w in words if any(c.isalpha() for c in w)) / nw1,
        )
        n_bullet = sum(1 for ln in lines if ln.lstrip(" ").startswith(("-", "*", "•")))
        assert math.isclose(g["bullet_line_frac"], n_bullet / nl1)
        n_ell = sum(1 for ln in lines if ln.endswith("..."))
        assert math.isclose(g["ellipsis_line_frac"], n_ell / nl1)
        sw = {"the", "be", "to", "of", "and", "that", "have", "with"}
        assert g["n_gopher_stopwords"] == len(set(words) & sw)

    # common_ngrams against a Counter reference over the same corpus
    got = {
        r["ngram"]: (r["n_docs"], r["n_occurrences"])
        for r in dedup.common_ngrams(df, "doc_id", "text", n=3, min_docs=2).collect()
    }
    by_gram_docs, by_gram_occ = Counter(), Counter()
    for _doc_id, text in docs:
        head = _py_words(text)[:502]  # cap applies to GRAMS (500)
        grams = [
            " ".join(head[j : j + 3]) for j in range(len(head) - 2)
        ][:500]
        by_gram_occ.update(grams)
        by_gram_docs.update(set(grams))
    want = {
        g: (by_gram_docs[g], by_gram_occ[g])
        for g in by_gram_occ
        if by_gram_docs[g] >= 2
    }
    assert got == want


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "  hello world "), (3, "hello worlds")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r["fingerprint"] for r in textstats.add_fingerprint(df).collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]


def test_winnow_shared_substring_guarantee(spark):
    """Docs sharing a substring of length >= k+window-1 share >=1 fingerprint;
    unrelated docs (different alphabets) share none."""
    from ner_backend_spark.spark.dedup import winnow_fingerprints

    shared = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, "AAA " + shared + " BBB"),
        (2, "xyz " + shared + " qrs"),
        (3, "0123456789" * 10),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(df, "doc_id", "text", k=5, window=4)
    by_doc = {
        r["doc_id"]: set(r["s"])
        for r in fps.groupBy("doc_id")
        .agg(F.collect_set("fp").alias("s"))
        .collect()
    }
    assert by_doc[1] & by_doc[2]      # shared substring -> shared fp
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])


def test_winnow_arrow_kernel_matches_expression(spark):
    """The vectorized numpy murmur3 kernel is bit-identical to the pure
    column-expression form, including short docs and non-ASCII text."""
    from ner_backend_spark.spark.dedup import winnow_fingerprints

    rows = [
        (1, "the quick brown fox jumps over the lazy dog " * 20),
        (2, "ab"),                      # shorter than k
        (3, ""),                        # empty
        (4, "héllo wörld — ünïcode test " * 5),   # non-ASCII slow path
        (5, "  Mixed   CASE \t and\nwhitespace  " * 10),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    expr = {
        (r["doc_id"], r["fp"])
        for r in winnow_fingerprints(df, "doc_id", "text", impl="expr").collect()
    }
    arrow = {
        (r["doc_id"], r["fp"])
        for r in winnow_fingerprints(df, "doc_id", "text", impl="arrow").collect()
    }
    assert arrow == expr


def test_quality_punct_ratio_is_unicode_aware(spark):
    """Non-ASCII letters must NOT count as punctuation (Java \\w is
    ASCII-only; round-3 review finding)."""
    rows = [(0, "Die Tür ist für müde Gäste geöffnet"),
            (1, "plain ascii words only here"),
            (2, "really!!! lots??? of... punct;;;")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in textstats.add_quality_scores(df).collect()}
    assert out[0]["punct_ratio"] == 0.0  # umlauts are letters, not punct
    assert out[1]["punct_ratio"] == 0.0
    assert out[2]["punct_ratio"] > 0.2
    assert out[0]["quality_score"] > 0.5


def test_minhash_matrix_is_true_mod_p():
    """(a*h+b) mod p computed without uint64 wraparound (round-3 review:
    the naive numpy expression wrapped mod 2^64 first)."""
    import numpy as np

    from ner_backend_spark.spark.dedup import (
        _MERSENNE,
        _minhash_params,
        minhash_matrix,
    )

    a, b = _minhash_params(16)
    rng = np.random.RandomState(3)
    h = rng.randint(0, 1 << 32, size=50, dtype=np.uint64)
    got = minhash_matrix(h, a, b)
    for i in range(16):
        for j in range(0, 50, 7):
            assert int(got[i, j]) == (int(a[i]) * int(h[j]) + int(b[i])) % _MERSENNE


def _py_exact_substring(rows, k=3, min_count=2, max_words=2000):
    """Independent reference: suffix-array-free ExactSubstr masks."""
    import hashlib

    W = {d: _py_words(t)[:max_words] for d, t in rows}
    occ = {}
    for w in W.values():
        for i in range(len(w) - k + 1):
            g = " ".join(w[i : i + k])
            occ[g] = occ.get(g, 0) + 1
    dup = {g for g, c in occ.items() if c >= min_count}
    out = {}
    for d, w in W.items():
        ds = [
            i
            for i in range(len(w) - k + 1)
            if " ".join(w[i : i + k]) in dup
        ]
        kept = [
            w[i]
            for i in range(len(w))
            if not any(p <= i < p + k for p in ds)
        ]
        out[d] = (
            len(w),
            len(ds),
            len(w) - len(kept),
            hashlib.md5(" ".join(kept).encode()).hexdigest(),
        )
    return out


def test_exact_substring_dedup(spark):
    """Lee-et-al-style substring dedup vs an independent Python mirror:
    cross-doc duplicated spans masked, within-doc repeats masked (a suffix
    array would find those too), unique text and empty/short docs kept."""
    rows = [
        (0, "alpha beta gamma delta unique tail one"),
        (1, "prefix alpha beta gamma delta another ending"),  # shares 5-gram? no: k=3 run
        (2, "totally different words without overlap here"),
        (3, "loop loop loop loop loop loop"),  # within-doc repeat
        (4, ""),  # empty
        (5, "tiny doc"),  # shorter than k
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (
            r["n_words"], r["n_dup_grams"], r["n_masked"], r["kept_hash"]
        )
        for r in dedup.exact_substring_dedup(
            df, "doc_id", "text", k=3, min_count=2
        ).collect()
    }
    want = _py_exact_substring(rows, k=3, min_count=2)
    assert got == want
    # the shared "alpha beta gamma delta" run must be masked in both docs
    assert got[0][2] >= 4 and got[1][2] >= 4
    # the unique doc keeps everything
    assert got[2][2] == 0 and got[2][0] == 6
    # within-doc repetition masks itself without any cross-doc partner
    assert got[3][2] == got[3][0]
    # empty and sub-k docs survive untouched
    assert got[4] == want[4] and got[5][2] == 0


def test_quality_classifier(spark):
    """Deterministic logistic quality model: logit reproduces the weighted
    sum of the curation signals exactly; prose beats degenerate text."""
    import math

    prose = " ".join(
        f"word{i} the and of that with some more text" for i in range(12)
    )
    junk = "spam " * 80  # one word repeated: dup_word_frac ~1, top bigram ~1
    df = spark.createDataFrame(
        [(0, prose), (1, junk.strip())], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r
        for r in textstats.add_quality_classifier(df).collect()
    }
    sig = {
        r["doc_id"]: r
        for r in textstats.add_repetition_stats(
            textstats.add_gopher_quality(df)
        ).collect()
    }
    w = textstats.QUALITY_CLF_WEIGHTS
    for d in (0, 1):
        s = sig[d]
        logit = (
            w["bias"]
            + w["len_frac"] * min(s["n_words"] / 100.0, 1.0)
            + w["alpha_word_frac"] * s["alpha_word_frac"]
            + w["symbol_word_ratio"] * s["symbol_word_ratio"]
            + w["dup_word_frac"] * s["dup_word_frac"]
            + w["top_bigram_frac"] * s["top_bigram_frac"]
            + w["mean_word_len"] * min(s["mean_word_len"], 10.0)
        )
        assert abs(out[d]["quality_logit"] - round(logit, 6)) < 2e-6
        assert (
            abs(out[d]["quality_prob"] - round(1 / (1 + math.exp(-logit)), 6))
            < 2e-6
        )
        assert out[d]["clf_keep"] == (logit > 0)
    assert out[0]["quality_prob"] > out[1]["quality_prob"]
    assert out[0]["clf_keep"] and not out[1]["clf_keep"]


def test_bloom_decontaminate_matches_exact(spark, docs):
    """Bloom decontamination must agree with the exact broadcast-gram
    decontaminate wherever the filter has no false positive — and at
    n_grams~10, m=65536, k=4 the FP probability is ~1e-14, so on this
    fixture the outputs are identical (flagged == contaminated and the
    per-doc gram hit counts match)."""
    bench = docs.filter(F.col("doc_id") == 0).select("text")
    exact = {
        r["doc_id"]: (r["n_contaminated_grams"], r["contaminated"])
        for r in dedup.decontaminate(
            docs, bench, "doc_id", "text", n=4
        ).collect()
    }
    bloom = {
        r["doc_id"]: (r["n_flagged_grams"], r["flagged"])
        for r in dedup.bloom_decontaminate(
            docs, bench, "doc_id", "text", n=4
        ).collect()
    }
    assert bloom == exact
    assert bloom[1][1]  # exact dup of benchmark doc is flagged
    assert not bloom[3][1]


def test_bloom_decontaminate_gramless_texts(spark, docs):
    """A null, whitespace-only or shorter-than-n text has no grams: it
    counts 0 and is not flagged, one output row per input row."""
    bench = docs.filter(F.col("doc_id") == 0).select("text")
    df = spark.createDataFrame(
        [(10, None), (11, " \t\n "), (12, "the quick brown")],
        "doc_id long, text string",
    )
    out = dedup.bloom_decontaminate(df, bench, "doc_id", "text", n=4)
    assert sorted(tuple(r) for r in out.collect()) == [
        (10, 0, False), (11, 0, False), (12, 0, False)
    ]


def test_semantic_dedup_matches_bruteforce(spark, vectors):
    """semantic_dedup marks exactly the rows for which a SMALLER id in
    the SAME cluster has cosine >= threshold (keep-first-by-id)."""
    df, base = vectors
    planted = np.vstack([base, base[:3] * 1.7 + 1e-9])  # 3 scaled near-dups
    rows = [(i, [float(x) for x in planted[i]]) for i in range(len(planted))]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.semantic_dedup(
        emb, dim=16, n_centroids=4, threshold=0.95, kmeans_iters=3
    )
    got = {r["id"]: (r["cid"], r["is_dup"]) for r in out.collect()}
    assert len(got) == len(planted)

    def cos(u, v):
        return float(np.dot(u, v) / (np.linalg.norm(u) * np.linalg.norm(v)))

    for i in range(len(planted)):
        cid = got[i][0]
        expect = any(
            got[j][0] == cid and cos(planted[j], planted[i]) >= 0.95
            for j in range(i)
        )
        assert got[i][1] == expect, i
    # the scaled copies land in their originals' clusters -> duplicates
    n_dups = sum(1 for _, d in got.values() if d)
    assert n_dups >= 3


def test_semantic_dedup_over_cap_clusters_exempted(spark, vectors):
    """Clusters above max_cluster_size are exempted from pruning (the
    structural bound on within-cluster pair work): with a cap of 1 no
    cluster is prunable, so nothing is marked duplicate."""
    df, base = vectors
    out = similarity.semantic_dedup(
        df, dim=16, n_centroids=4, threshold=0.5, kmeans_iters=2,
        max_cluster_size=1,
    )
    assert not any(r["is_dup"] for r in out.collect())


def test_bm25_matches_python_replica(spark, docs):
    """bm25_scores equals an independent Okapi BM25 (Lucene idf)
    computation over the same whitespace tokenization."""
    import math

    terms = ["the", "fox", "quartz"]
    out = {
        r["doc_id"]: r
        for r in textstats.bm25_scores(
            docs, "doc_id", "text", terms, k1=1.2, b=0.75
        ).collect()
    }
    toks = {i: t.lower().split() for i, t in DOCS}
    n = len(toks)
    avgdl = sum(len(w) for w in toks.values()) / n
    dfreq = {t: sum(1 for w in toks.values() if t in w) for t in terms}
    for i, w in toks.items():
        score = 0.0
        for t in terms:
            tf = w.count(t)
            idf = math.log((n - dfreq[t] + 0.5) / (dfreq[t] + 0.5) + 1.0)
            score += idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * len(w) / avgdl))
        assert out[i]["dl"] == len(w)
        assert out[i]["n_matched"] == sum(1 for t in terms if t in w)
        assert abs(out[i]["bm25"] - round(score, 6)) < 2e-6, i
    # ranking sanity: docs containing the rare term outrank those without
    assert out[4]["bm25"] > out[3]["bm25"]  # 'quartz' only in doc 4


def test_dup_clusters_transitive_closure(spark):
    # pair graph: {1-2, 2-3} one chain-cluster of 3; {10-11} a pair;
    # transitivity matters — (1,3) is never a pair but shares 1's cluster
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_kept"])
        for r in dedup.dup_clusters(pairs).collect()
    }
    assert got == {
        1: (1, 3, True),
        2: (1, 3, False),
        3: (1, 3, False),
        10: (10, 2, True),
        11: (10, 2, False),
    }, got
