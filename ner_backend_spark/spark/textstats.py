"""Text analysis operators: token counts, quality scores, language ID,
document fingerprints. All JVM-side (built-in functions, codegen-friendly)
except :func:`bpe_encode`, the exact merge-based BPE path, which is an
Arrow-batched kernel by necessity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .session import map_batches

# Whitespace class pinned explicitly: Java's \s (Spark) is
# [ \t\n\x0B\f\r] while RE2's \s (DuckDB oracles) is [ \t\n\f\r] — a
# document containing \x0B would tokenize differently on the two sides
# (round-5 advice). The RE2 set is the pinned semantics; every
# tokenization regex (here, dedup, kg, the Python oracle mirrors) spells
# it out instead of writing \s.
WS = r"[ \t\n\f\r]"

# Tiny per-language stopword lists for the n-gram/stopword-hit heuristic.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "für", "nicht", "ein"],
    "es": ["el", "la", "los", "de", "que", "y", "en", "un", "una", "por"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"],
}


def token_count(text: Column) -> Column:
    """Whitespace-token count, matching Go strings.Fields / str.split():
    empty text -> 0 tokens (processor.go:640-641).

    Boundary strip is the words_expr regexp (all of WS), not F.trim
    (spaces only) — 'words\\n' must count its words, not a phantom ''
    boundary token (round-7 ADVICE: the same round-4 bug words_expr
    fixed, resurfaced here)."""
    stripped = F.regexp_replace(text, "^" + WS + "+|" + WS + "+$", "")
    return F.when(stripped == "", F.lit(0)).otherwise(
        F.size(F.split(stripped, WS + "+"))
    )


def add_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """n_tokens, n_chars, n_bytes, mean_token_len."""
    t = F.col(text_col)
    n_tokens = token_count(t)
    return df.withColumns(
        {
            "n_tokens": n_tokens,
            "n_chars": F.length(t),
            "n_bytes": F.octet_length(t),
            "mean_token_len": F.when(n_tokens > 0, (
                F.length(F.regexp_replace(t, WS + "+", "")) / n_tokens
            )).otherwise(F.lit(0.0)),
        }
    )


def add_quality_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality signals: punctuation ratio, digit ratio, uppercase
    ratio, stopword ratio (English), and a combined [0,1] quality score."""
    t = F.col(text_col)
    n_chars = F.greatest(F.length(t), F.lit(1))
    # Unicode-aware classes: Java's \w is ASCII-only, so [^\w\s] counted
    # every non-ASCII LETTER (ü, é, 東) as punctuation and collapsed
    # quality_score to ~0 for non-English prose (round-3 review finding).
    # \p{L}\p{N} works identically in Java regex (Spark) and RE2 (DuckDB).
    punct = F.length(t) - F.length(F.regexp_replace(t, r"[^\p{L}\p{N}_ \t\n\f\r]", ""))
    digits = F.length(t) - F.length(F.regexp_replace(t, r"[0-9]", ""))
    upper = F.length(t) - F.length(F.regexp_replace(t, r"\p{Lu}", ""))
    n_tokens = F.greatest(token_count(t), F.lit(1))
    sw = STOPWORDS["en"]
    sw_hits = F.size(
        F.filter(
            F.split(F.lower(F.trim(t)), WS + "+"),
            lambda w: w.isin(sw),
        )
    )
    df = df.withColumns(
        {
            "punct_ratio": punct / n_chars,
            "digit_ratio": digits / n_chars,
            "upper_ratio": upper / n_chars,
            "stopword_ratio": sw_hits / n_tokens,
        }
    )
    # simple monotone combination: long-enough, low punctuation/digit noise,
    # some stopwords (prose-likeness)
    return df.withColumn(
        "quality_score",
        F.least(
            F.lit(1.0),
            F.greatest(
                F.lit(0.0),
                F.lit(1.0)
                - F.col("punct_ratio") * 2
                - F.col("digit_ratio") * 2
                + F.least(F.col("stopword_ratio") * 2, F.lit(0.3)),
            ),
        ),
    )


def add_language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """lang_pred: argmax of per-language stopword hit counts ('und' if none).

    A character-n-gram model would be a drop-in replacement; the operator
    shape (tokenize once, score K literal word sets) is what matters.
    """
    words = F.split(F.lower(F.trim(F.col(text_col))), WS + "+")
    scores = [
        F.struct(
            F.size(F.filter(words, lambda w: w.isin(sw))).alias("hits"),
            # tie-break deterministically by language code (descending
            # array_max picks the first max; order langs alphabetically)
            F.lit(lang).alias("lang"),
        )
        for lang, sw in sorted(STOPWORDS.items())
    ]
    best = F.array_max(F.array(*scores))
    return df.withColumn(
        "lang_pred",
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")),
    )


# GPT-2-style pretokenizer classes, lookahead-free so Java regex (Spark),
# RE2 (DuckDB) and PCRE agree: contractions, space-prefixed letter runs,
# digit runs, punctuation runs, residual whitespace.
BPE_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)"
    r"| ?\p{L}+"
    r"| ?\p{N}+"
    r"| ?[^ \t\n\f\r\p{L}\p{N}]+"
    r"|[ \t\n\f\r]+"
)


def bpe_token_count(text: Column) -> Column:
    """BPE-ish token count: GPT-2 pretokenizer classes, pure-whitespace
    matches excluded. Stays in whole-stage codegen (regexp_extract_all +
    filter); the LLM-budget analogue of the whitespace token_count."""
    return F.size(
        F.filter(
            F.regexp_extract_all(text, F.lit(BPE_PATTERN), F.lit(0)),
            lambda t: F.trim(t) != "",
        )
    )


def add_bpe_tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("n_bpe_tokens", bpe_token_count(F.col(text_col)))


def bpe_encode(
    df: DataFrame, id_col: str, text_col: str, n_merges: int = 384
) -> DataFrame:
    """(id, n_bpe_tokens, ids_hash): REAL merge-based BPE encoding.

    Applies the trained byte-level vocabulary (core/bpe.py; fixture-corpus
    merges, deterministic everywhere) in an Arrow-batched kernel.
    ``ids_hash`` is md5 over the int64 token-id bytes — a hashable scalar
    that pins the full id sequence under the driver's value-hash gate.
    ``bpe_token_count`` remains the pure-codegen pretokenizer COUNT
    approximation; this is the exact-count + sequence path.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    from ..core.bpe import default_vocab

    vocab = default_vocab(n_merges)  # pickles as merges; ranks rebuilt per worker
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, n_bpe_tokens long, ids_hash string"

    def run(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ns, hs = [], []
        for text in pdf[text_col].values:
            ids = np.asarray(vocab.encode(text or ""), dtype=np.int64)
            ns.append(len(ids))
            hs.append(hashlib.md5(ids.tobytes()).hexdigest())
        return pd.DataFrame(
            {id_col: pdf[id_col].values, "n_bpe_tokens": ns, "ids_hash": hs}
        )

    return map_batches(df.select(id_col, text_col), run, schema)


# Gopher rule-set stopwords (Rae et al. 2021, "Scaling Language Models",
# Appendix A: a document must contain >= 2 of these to pass the filter).
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def words_expr(text: Column) -> Column:
    r"""Lowercased whitespace tokens; empty/whitespace-only text -> [].

    Strips ALL (ASCII) whitespace at both ends via regexp — ``F.trim``
    strips only spaces, so text with a trailing newline/tab would leave
    boundary empty-string tokens after the split (round-4 review finding:
    'words\\n' tokenized to 12 words incl. a phantom ''), inflating every
    word-derived curation signal. Shared by the Gopher/repetition/LM
    operators here and the n-gram builders in dedup (single-source
    tokenization semantics; the DuckDB oracles' RE2 \s IS this class —
    Java \s would add \x0B, a latent parity break, hence the explicit
    spelling).
    """
    stripped = F.regexp_replace(text, "^" + WS + "+|" + WS + "+$", "")
    return F.when(stripped == "", F.array().cast("array<string>")).otherwise(
        F.split(F.lower(stripped), WS + "+")
    )


def word_ngrams(words: Column, n: int) -> Column:
    """Word n-gram array from a words array column.

    ``words`` SHOULD be a BOUND attribute (a column projected in a prior
    select/withColumn), never an inline expression: the zip_with form
    below evaluates an inline ``words`` once per slice — n regexp
    re-splits per row, measured 2.4 s vs 0.89 s per 8-gram corpus pass
    at sf0.1 (round 8; every in-tree call site now pre-projects the
    words array). zip_with over n offset slices is kept over the
    seemingly-cheaper transform(sequence, i -> concat_ws(slice(words,
    i, n))) deliberately: CollapseProject can inline a single-referenced
    bound column back INTO a lambda, where a captured expression tree
    re-evaluates PER ELEMENT (the O(words²) re-split trap documented in
    add_repetition_stats — re-measured in round 8: the transform form
    regressed q_paragraph_dedup to 26 s when the optimizer collapsed the
    binding projection). zip_with operands evaluate once per ROW no
    matter what the optimizer does to the projection. Shorter-than-n
    inputs yield []."""
    count = F.size(words) - (n - 1)
    parts = [F.slice(words, i + 1, count) for i in range(n)]
    out = parts[0]
    for p in parts[1:]:
        out = F.zip_with(out, p, lambda x, y: F.concat_ws(" ", x, y))
    return F.when(F.size(words) >= n, out).otherwise(
        F.array().cast("array<string>")
    )


# back-compat alias used throughout this module
_words = words_expr


def _nonempty_lines(text: Column) -> Column:
    return F.filter(F.split(text, r"\n"), lambda ln: F.trim(ln) != "")


def add_gopher_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style web-text quality rules (Rae et al. 2021, Appendix A) —
    the standard LLM-pretraining document filter, entirely JVM-side
    (split + higher-order functions, whole-stage codegen; no Python).

    Emitted signals and the published thresholds combined into
    ``gopher_keep``:
      * word count in [50, 100,000]
      * mean word length in [3, 10]
      * symbol-to-word ratio ('#' or '...') < 0.1
      * < 90% of lines starting with a bullet, < 30% ending with '...'
      * >= 80% of words containing a letter
      * >= 2 distinct stopwords from the 8-word Gopher list

    Every ratio is a single division of exact integers, so Spark and the
    DuckDB oracle produce bit-identical doubles.
    """
    t = F.col(text_col)
    # BIND words/lines once (word_ngrams-docstring discipline): inline,
    # the tokenizing split re-evaluated per reference — four times for
    # words, three for lines (round 8)
    df = df.withColumn("_gq_w", _words(t)).withColumn(
        "_gq_lines", _nonempty_lines(t)
    )
    words = F.col("_gq_w")
    lines = F.col("_gq_lines")
    n_words = F.size(words)
    n_words1 = F.greatest(n_words, F.lit(1))
    n_lines1 = F.greatest(F.size(lines), F.lit(1))
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    total_word_len = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    n_alpha_words = F.size(F.filter(words, lambda w: w.rlike(r"\p{L}")))
    n_bullet = F.size(
        F.filter(
            lines,
            lambda ln: F.ltrim(ln).rlike(r"^[-*•]"),
        )
    )
    n_ell_lines = F.size(F.filter(lines, lambda ln: ln.endswith("...")))
    sw_present = F.size(
        F.array_intersect(
            F.array_distinct(words),
            F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
        )
    )
    df = df.withColumns(
        {
            "n_words": n_words,
            "mean_word_len": total_word_len / n_words1,
            "symbol_word_ratio": (n_hash + n_ellipsis) / n_words1,
            "bullet_line_frac": n_bullet / n_lines1,
            "ellipsis_line_frac": n_ell_lines / n_lines1,
            "alpha_word_frac": n_alpha_words / n_words1,
            "n_gopher_stopwords": sw_present,
        }
    ).drop("_gq_w", "_gq_lines")
    return df.withColumn(
        "gopher_keep",
        (F.col("n_words") >= 50)
        & (F.col("n_words") <= 100_000)
        & (F.col("mean_word_len") >= 3)
        & (F.col("mean_word_len") <= 10)
        & (F.col("symbol_word_ratio") < 0.1)
        & (F.col("bullet_line_frac") < 0.9)
        & (F.col("ellipsis_line_frac") < 0.3)
        & (F.col("alpha_word_frac") >= 0.8)
        & (F.col("n_gopher_stopwords") >= 2),
    )


def add_repetition_stats(
    df: DataFrame, text_col: str = "text", max_words: int = 500
) -> DataFrame:
    """Gopher-style repetition signals, JVM-side:

      * ``dup_line_frac``  — 1 − distinct/total over non-empty lines
      * ``dup_word_frac``  — 1 − distinct/total over words
      * ``top_bigram_frac`` — occurrences of the most frequent word bigram
        over all bigram slots (the 'fraction covered by the top n-gram'
        family), computed over the first ``max_words`` words: the
        distinct×total comparison inside one row is quadratic, so the cap
        bounds per-row work at web scale (a 100k-word outlier document
        would otherwise own its task); the cap is part of the operator
        contract and mirrored by the oracle.
    """
    t = F.col(text_col)
    # BIND the tokenization products to real columns before any of them
    # is referenced more than once (or captured by a lambda): an inline
    # words/lines expression re-evaluates its regexp split per reference,
    # and a lambda-captured inline expression re-evaluates PER ELEMENT —
    # the O(words²) re-split trap (measured 7 s for 5k docs vs 0.2 s).
    # word_ngrams requires a bound attribute for the same reason.
    df = (
        df.withColumn("_rs_w", _words(t))
        .withColumn("_rs_lines", _nonempty_lines(t))
        .withColumn("_rs_head", F.slice(F.col("_rs_w"), 1, max_words))
        .withColumn("_rs_bg", word_ngrams(F.col("_rs_head"), 2))
    )
    words = F.col("_rs_w")
    lines = F.col("_rs_lines")
    n_lines1 = F.greatest(F.size(lines), F.lit(1))
    n_words1 = F.greatest(F.size(words), F.lit(1))
    bigrams = F.col("_rs_bg")
    # Mode count via sort + max equal-adjacent run length: array_sort is
    # native (no lambda) and the fold is LINEAR in the array. The naive
    # distinct×filter formulation is quadratic in *interpreted* lambda
    # evaluations (Spark HOF lambdas don't enter whole-stage codegen) and
    # measured 55 s for 500 docs vs 0.5 s for this form.
    sorted_bg = F.array_sort(bigrams)
    max_run = F.aggregate(
        sorted_bg,
        F.struct(
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
            F.lit("").alias("prev"),
        ),
        lambda acc, x: F.struct(
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
            x.alias("prev"),
        ),
        lambda acc: acc["best"],
    )
    top_bigram = F.when(
        F.size(bigrams) > 0, max_run / F.size(bigrams)
    ).otherwise(F.lit(0.0))
    return df.withColumns(
        {
            "dup_line_frac": F.lit(1.0)
            - F.size(F.array_distinct(lines)) / n_lines1,
            "dup_word_frac": F.lit(1.0)
            - F.size(F.array_distinct(words)) / n_words1,
            "top_bigram_frac": top_bigram,
        }
    ).drop("_rs_w", "_rs_lines", "_rs_head", "_rs_bg")


# Deterministic linear quality model over the already-computed curation
# signals — the fastText/CCNet-classifier analogue ("educational value"
# scoring) without a heavyweight model. Features are deliberately the
# exact-integer-ratio doubles from add_gopher_quality/add_repetition_stats
# (bit-identical Spark vs DuckDB) combined with pure arithmetic (no ln on
# the feature path), so the logit itself is bit-identical on both sides;
# only the sigmoid's exp() needs the round-to-6 guard.
QUALITY_CLF_WEIGHTS = {
    "bias": -2.5,
    "len_frac": 3.0,       # least(n_words/100, 1): enough material
    "alpha_word_frac": 2.0,  # prose-likeness
    "symbol_word_ratio": -4.0,
    "dup_word_frac": -2.0,   # within-doc repetition
    "top_bigram_frac": -3.0,
    "mean_word_len": 0.3,    # least(mean_word_len, 10)
}


def quality_logit_expr() -> Column:
    """The classifier logit over signal COLUMNS (n_words, mean_word_len,
    symbol_word_ratio, alpha_word_frac, dup_word_frac, top_bigram_frac must
    already exist) — factored out so the single-scan curation composite
    consumes it from its own precomputed columns."""
    w = QUALITY_CLF_WEIGHTS
    return (
        F.lit(w["bias"])
        + F.lit(w["len_frac"])
        * F.least(F.col("n_words") / F.lit(100.0), F.lit(1.0))
        + F.lit(w["alpha_word_frac"]) * F.col("alpha_word_frac")
        + F.lit(w["symbol_word_ratio"]) * F.col("symbol_word_ratio")
        + F.lit(w["dup_word_frac"]) * F.col("dup_word_frac")
        + F.lit(w["top_bigram_frac"]) * F.col("top_bigram_frac")
        + F.lit(w["mean_word_len"])
        * F.least(F.col("mean_word_len"), F.lit(10.0))
    )


def add_quality_classifier(df: DataFrame, text_col: str = "text") -> DataFrame:
    """quality_logit, quality_prob, clf_keep: score documents with the
    deterministic linear quality model. Computes the underlying signals if
    absent (one scan, all codegen); callers that already ran
    add_gopher_quality + add_repetition_stats reuse their columns."""
    needed = {
        "n_words", "mean_word_len", "symbol_word_ratio", "alpha_word_frac",
        "dup_word_frac", "top_bigram_frac",
    }
    if not needed.issubset(set(df.columns)):
        df = add_repetition_stats(
            add_gopher_quality(df, text_col), text_col
        )
    logit = quality_logit_expr()
    return df.withColumns(
        {
            "quality_logit": F.round(logit, 6),
            "quality_prob": F.round(
                F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6
            ),
            "clf_keep": logit > 0,
        }
    )


def unigram_logppl(
    df: DataFrame, id_col: str, text_col: str, round_digits: int = 4
) -> DataFrame:
    """(id, n_tokens, avg_neg_log_p): corpus-unigram language-model score
    per document — the CCNet/KenLM-style quality signal (documents whose
    tokens are rare under the corpus distribution score high = surprising/
    noisy; boilerplate scores low), expressed fully relationally:

      1. explode tokens (one narrow shuffle-free projection),
      2. corpus vocabulary frequencies via groupBy (map-side combined —
         the zipf head aggregates locally),
      3. token ⋈ frequency join, then per-document avg(-ln p).

    No model artifact, no Python: the "LM" is the corpus itself, which is
    exactly what CCNet's target-domain LM degenerates to at order 1. The
    output is rounded (default 4 digits) because cross-row float summation
    order differs between engines/plans; the signal lives in whole digits.
    At web scale the vocabulary is zipf-bounded (far smaller than the
    corpus) and the frequency join shuffles on the token like any
    dimension join; hot tokens are exactly the well-aggregated head.

    The plan deliberately scans the corpus TWICE (once aggregating
    frequencies, once re-deriving tokens for the scoring join) rather
    than checkpointing ``tok``: the exploded token table is corpus-sized
    (~1.4x the text bytes), so materializing it trades a cheap columnar
    re-scan for executor storage of the largest intermediate in the whole
    engine — the wrong trade at 100 TB. Callers scoring MANY times against
    one corpus should persist ``freqs`` (tiny) to a table instead.
    """
    t = F.col(text_col)
    words = _words(t)
    tok = df.select(F.col(id_col).alias("_id"), F.explode(words).alias("token"))
    freqs = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    total = freqs.agg(F.sum("c").alias("t"))
    scored = (
        tok.join(freqs, "token")
        .crossJoin(F.broadcast(total))
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(-F.log(F.col("c") / F.col("t"))), round_digits).alias(
                "avg_neg_log_p"
            ),
        )
    )
    return scored.select(
        F.col("_id").alias(id_col), "n_tokens", "avg_neg_log_p"
    )


def compression_ratio(
    df: DataFrame, id_col: str, text_col: str, level: int = 6
) -> DataFrame:
    """(id, n_bytes, n_compressed, compression_ratio): zlib compressed
    size over raw UTF-8 size — the low-entropy / boilerplate detector used
    by CCNet/RefinedWeb-style curation (highly repetitive documents
    compress far below prose's ~0.4-0.6 and get dropped or down-weighted).

    Arrow-batched kernel by necessity (no JVM-side deflate expression);
    compressed SIZE for a fixed zlib level is deterministic within a zlib
    build, and the pure-Python oracle runs the same zlib in the same
    container — cross-zlib-version byte counts can drift a few bytes, the
    same caveat class as minipng's encoder, so pin the ratio not the bytes
    when comparing across environments. Empty text reports ratio 0.0.
    """
    import zlib

    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()
    schema = (
        f"{id_col} {id_type}, n_bytes long, n_compressed long,"
        " compression_ratio double"
    )

    def run(pdf: "pd.DataFrame") -> "pd.DataFrame":
        nb, nc, ratio = [], [], []
        for text in pdf[text_col].values:
            raw = (text or "").encode("utf-8")
            comp = len(zlib.compress(raw, level)) if raw else 0
            nb.append(len(raw))
            nc.append(comp)
            ratio.append(comp / len(raw) if raw else 0.0)
        return pd.DataFrame(
            {
                id_col: pdf[id_col].values,
                "n_bytes": nb,
                "n_compressed": nc,
                "compression_ratio": ratio,
            }
        )

    return map_batches(df.select(id_col, text_col), run, schema)


def add_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """fingerprint: md5 of whitespace-normalized lowercase text.

    Content-defined, collation-free, and portable (same value in DuckDB:
    md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))).
    """
    normalized = F.regexp_replace(F.lower(F.trim(F.col(text_col))), WS + "+", " ")
    return df.withColumn("fingerprint", F.md5(normalized))


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    round_digits: int = 6,
) -> DataFrame:
    """(id, dl, n_matched, bm25): Okapi BM25 relevance of every document
    against a fixed query-term set — the corpus-analytics retrieval
    primitive (quality-weighted keyword filtering, seed-document mining,
    relevance-ranked corpus slices for targeted training mixes).

      bm25 = Σ_t idf(t) · tf_t·(k1+1) / (tf_t + k1·(1 − b + b·dl/avgdl))
      idf  = ln((N − df_t + 0.5)/(df_t + 0.5) + 1)   (Lucene BM25, ≥ 0)

    Scale shape: the query-term set is tiny and CONSTANT, so per-document
    term frequencies are computed ROW-LOCALLY (`F.filter` over the token
    array, one column per term in a single projection) — the corpus is
    never exploded to a token table and the only shuffle in the whole
    plan is the one-row corpus-stats aggregate (N, avgdl, df_t), which
    broadcasts back. Every float step is a fixed-order closed-form
    expression (term order = argument order), so the DuckDB oracle
    reproduces it bit-for-bit before the final rounding.

    Like :func:`unigram_logppl`, the corpus is deliberately scanned twice
    (stats pass + scoring pass) instead of checkpointing the tokenized
    intermediate — a cheap columnar re-scan beats materializing a
    corpus-sized token array at 100 TB.
    """
    if not terms:
        raise ValueError("terms must be non-empty")

    def _eq(term: str):
        # arity-1 closure: a 2-arg lambda (e.g. the `t=t` default-capture
        # idiom) would be treated by F.filter as an (element, index) lambda
        return lambda w: w == F.lit(term)

    # words BOUND in a prior select (word_ngrams-docstring discipline):
    # inline, the tokenizing regexp split re-evaluated once per reference
    # — 1 + len(terms) splits of every document per scan (round 8)
    words = F.col("_w")
    base = df.select(
        F.col(id_col).alias("_id"), words_expr(F.col(text_col)).alias("_w")
    ).select(
        "_id",
        F.size(words).alias("dl"),
        *[
            F.size(F.filter(words, _eq(t))).alias(f"_tf_{i}")
            for i, t in enumerate(terms)
        ],
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("_n"),
        F.avg("dl").alias("_avgdl"),
        *[
            F.sum((F.col(f"_tf_{i}") > 0).cast("long")).alias(f"_df_{i}")
            for i in range(len(terms))
        ],
    )
    j = base.crossJoin(F.broadcast(stats))

    def term_score(i: int):
        tf = F.col(f"_tf_{i}").cast("double")
        dfreq = F.col(f"_df_{i}").cast("double")
        n = F.col("_n").cast("double")
        idf = F.log((n - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
        denom = tf + k1 * (1.0 - b + b * F.col("dl") / F.col("_avgdl"))
        return idf * (tf * (k1 + 1.0)) / denom

    score = term_score(0)
    for i in range(1, len(terms)):
        score = score + term_score(i)
    matched = sum(
        (F.col(f"_tf_{i}") > 0).cast("int") for i in range(len(terms))
    )
    return j.select(
        F.col("_id").alias(id_col),
        F.col("dl").cast("long").alias("dl"),
        matched.alias("n_matched"),
        F.round(score, round_digits).alias("bm25"),
    )


def add_script_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Unicode-script character profile per document: counts of Latin
    letters, digits, Cyrillic and CJK characters, the Latin fraction,
    and the dominant script — the multilingual-corpus census that routes
    documents to per-script processing (tokenizer choice, lang-id
    priors) upstream of the n-gram lang-id heuristic.

    Pure codegen: each count is length(text) − length(regexp_replace)
    with an explicit \\x{...} range class that parses identically in
    Java regex (Spark) and RE2 (the DuckDB oracle) — no \\p{Script=}
    classes, whose coverage differs between the engines. Dominant-script
    ties break in the fixed latin > digit > cyrillic > cjk order,
    mirrored in the oracle's CASE chain.
    """
    t = F.col(text_col)

    def _cnt(cls: str):
        return F.length(t) - F.length(F.regexp_replace(t, cls, ""))

    n_latin = _cnt("[A-Za-z]")
    n_digit = _cnt("[0-9]")
    n_cyr = _cnt(r"[\x{0400}-\x{04ff}]")
    n_cjk = _cnt(r"[\x{4e00}-\x{9fff}]")
    dominant = (
        F.when(
            (n_latin >= n_digit) & (n_latin >= n_cyr) & (n_latin >= n_cjk),
            F.lit("latin"),
        )
        .when((n_digit >= n_cyr) & (n_digit >= n_cjk), F.lit("digit"))
        .when(n_cyr >= n_cjk, F.lit("cyrillic"))
        .otherwise(F.lit("cjk"))
    )
    return df.withColumns(
        {
            "n_latin": n_latin.cast("long"),
            "n_digit": n_digit.cast("long"),
            "n_cyrillic": n_cyr.cast("long"),
            "n_cjk": n_cjk.cast("long"),
            "frac_latin": F.round(
                n_latin / F.greatest(F.length(t), F.lit(1)), 4
            ),
            "dominant_script": dominant,
        }
    )


def add_readability(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Flesch reading-ease per document from three regexp censuses —
    words (whitespace runs), sentences ([.!?] runs), syllables
    ([aeiouy]+ vowel groups, the standard heuristic):

      flesch = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)

    The classic prose-quality feature in curation filters (too-low =
    word-salad boilerplate, too-high = telegraphic fragments). Pure
    codegen; the DuckDB oracle mirrors each census and the fixed-order
    float expression. Sentence/word counts are floored at 1 so empty or
    punctuation-free docs score finitely instead of dividing by zero.
    """
    t = F.col(text_col)
    # words census = token_count's semantics exactly (regexp boundary
    # strip over all of WS, not F.trim's spaces-only — round-7 ADVICE)
    n_words = token_count(t).cast("long")
    # run count = len(collapse runs to one '#') - len(remove runs)
    n_sentences = (
        F.length(F.regexp_replace(t, r"[.!?]+", "#"))
        - F.length(F.regexp_replace(t, r"[.!?]+", ""))
    ).cast("long")
    n_syllables = (
        F.length(F.regexp_replace(F.lower(t), r"[aeiouy]+", "#"))
        - F.length(F.regexp_replace(F.lower(t), r"[aeiouy]+", ""))
    ).cast("long")
    w = F.greatest(n_words, F.lit(1)).cast("double")
    s = F.greatest(n_sentences, F.lit(1)).cast("double")
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (w / s)
        - F.lit(84.6) * (n_syllables.cast("double") / w)
    )
    return df.withColumns(
        {
            "n_words": n_words,
            "n_sentences": n_sentences,
            "n_syllables": n_syllables,
            "flesch": F.round(flesch, 4),
        }
    )
