"""Mergeable cardinality sketches as *relational* plans (HyperLogLog).

At 100 TB the only sane distinct-count is a mergeable sketch: each
partition folds its rows into a tiny register array, registers merge
with elementwise max, and the estimate reads from the merged state —
no shuffle of raw values, no giant hash set. Spark ships this as
``approx_count_distinct`` (HLL++), but its register state is opaque and
its estimate is not reproducible outside the JVM — useless for a
cross-engine correctness gate and for pipelines that need to PERSIST
sketch state (e.g. per-shard registers unioned daily).

This module instead expresses classic HLL (Flajolet et al. 2007) as a
pure DataFrame plan over a deterministic hash:

  h       = md5(value)                      (same bytes in any engine)
  bucket  = first p bits of h               (hex prefix -> int)
  w       = next 52 bits of h
  rho     = 1 + leading zeros of w in 52-bit form   (w == 0 -> 53)
  state   = per (group, bucket): max(rho)   <- the mergeable sketch
  merge   = elementwise max (a groupBy)     <- union of corpora
  S       = sum over m registers of 2^(53 - M_j)  (M_j = 0 if empty)
  raw     = alpha_m * m^2 * 2^77 / S ... wait, see below
  estim   = linear counting when zeros>0 and raw <= 2.5m, else raw

Every step up to the estimate is INTEGER arithmetic (the register max,
and S as a sum of powers of two that fit in int64 because rho <= 53),
so the sketch state and S are bit-exact across Spark, DuckDB and
Python — that is what the parity gate hashes. The estimate itself is a
fixed sequence of IEEE-754 double ops on those exact integers, rounded
to 3 decimals in both engines.

Aggregation shape: ONE map-side-combinable groupBy on
(group, bucket) — at most m rows per group survive the partial
aggregate, so the shuffle carries O(groups * m) rows no matter how
many input rows there are. That is the whole point of the sketch.

No reference counterpart (the reference has no sketching); this is
part of the LLM-data-pipeline layer the brief asks for (corpus-level
distinct URLs / tokens / users at scales where exact COUNT(DISTINCT)
is a full shuffle of the data).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# rho counts leading zeros in a 52-bit window (13 md5 hex chars), so
# registers lie in [1, 53] and 2^(53 - M) always fits in an int64.
_W_BITS = 52
_RHO_MAX = _W_BITS + 1


def _md5_slot(value: Column, salt: Column, m: int) -> Column:
    """Slot of ``value`` in the ``m``-slot table of hash stream ``salt``:
    pmod(conv(substring(md5(value#salt), 1, 13), 16, 10), m) as an int.

    The one slot expression of the count-min and Bloom sketches. It is
    integer-exact, so the DuckDB oracles mirror it 1:1 and the sketches'
    collisions are identical in both engines.
    """
    h = F.md5(F.concat_ws("#", value.cast("string"), salt))
    return F.pmod(
        F.conv(F.substring(h, 1, 13), 16, 10).cast("bigint"), F.lit(m)
    ).cast("int")


def _alpha(m: int) -> float:
    # Flajolet's bias constant; the m >= 128 closed form. Written as one
    # literal expression evaluated in Python so Spark and DuckDB receive
    # the identical double literal.
    return 0.7213 / (1.0 + 1.079 / m)


def hll_registers(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    p: int = 8,
) -> DataFrame:
    """Per-group HLL register table: group_cols + (bucket, reg).

    ``p`` is the bucket-index bit width and must be a multiple of 4
    (bucket = first p/4 md5 hex chars) with 4 <= p <= 8. The upper
    bound is a hard int64-safety limit, not a style choice: the
    estimate's ``reg_sum`` packs up to (m-1)*2^53 + 2^52 into an exact
    int64, which overflows for p >= 12 (3.7e19 at p=12 vs int64 max
    9.2e18) — and overflow is *silent* wraparound in non-ANSI Spark
    while DuckDB's HUGEINT->BIGINT cast raises, so the two engines
    would diverge. p=8 (256 registers, ~6.5% rel. error) is plenty for
    a per-group sketch. The result is the mergeable sketch state:
    union two corpora's register tables and
    ``groupBy(group, bucket).agg(max(reg))`` to get the union sketch —
    exactly what ``hll_merge`` does.
    """
    if p % 4 or not 4 <= p <= 8:
        raise ValueError(f"p must be a multiple of 4 in [4, 8], got {p}")
    hex_chars = p // 4
    h = F.md5(F.col(value_col).cast("string"))
    bucket = F.conv(F.substring(h, 1, hex_chars), 16, 10).cast("int")
    w = F.conv(F.substring(h, hex_chars + 1, 13), 16, 10).cast("bigint")
    # leading-zero count via the binary string: exact, integer-only, and
    # expressible identically in DuckDB (lpad(bin(w), 52, '0'))
    rho = F.when(w == 0, F.lit(_RHO_MAX)).otherwise(
        F.instr(F.lpad(F.bin(w), _W_BITS, "0"), "1")
    )
    return (
        df.select(*group_cols, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("reg"))
    )


def hll_merge(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge sketches that share bucket ids: elementwise register max."""
    return registers.groupBy(*group_cols, "bucket").agg(
        F.max("reg").alias("reg")
    )


def hll_estimate(
    registers: DataFrame,
    group_cols: list[str],
    p: int = 8,
) -> DataFrame:
    """group_cols + (m_used, zeros, reg_sum, est) from a register table.

    ``reg_sum`` is S scaled by 2^53 as an exact int64
    (empty registers contribute 2^53 each), so it hash-gates the entire
    sketch state in one integer; ``est`` is the HLL estimate with the
    small-range linear-counting correction, rounded to 3 decimals.
    p <= 8 keeps reg_sum <= m * 2^53 = 2.3e18 < int64 max (see
    ``hll_registers`` for the overflow/divergence story at p >= 12).
    """
    if p % 4 or not 4 <= p <= 8:
        raise ValueError(f"p must be a multiple of 4 in [4, 8], got {p}")
    m = 1 << p
    alpha = _alpha(m)
    per_group = registers.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("m_used"),
        F.sum(
            # SQL form: the Python F.shiftleft only takes a literal shift
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {_RHO_MAX} - reg)")
        ).alias("used_sum"),
    )
    zeros = F.lit(m) - F.col("m_used")
    reg_sum = F.col("used_sum") + zeros.cast("bigint") * F.lit(
        1 << _RHO_MAX
    ).cast("bigint")
    out = per_group.withColumn("zeros", zeros).withColumn(
        "reg_sum", reg_sum
    )
    # raw = alpha * m^2 / (S / 2^53) = alpha * m^2 * 2^53 / S; the
    # operand order below is mirrored verbatim in the DuckDB oracle so
    # both engines execute the identical IEEE-754 sequence
    raw = (
        F.lit(alpha)
        * F.pow(F.lit(2.0), F.lit(float(2 * p + _RHO_MAX)))
        / F.col("reg_sum").cast("double")
    )
    linear = F.lit(float(m)) * F.log(
        F.lit(float(m)) / F.col("zeros").cast("double")
    )
    est = F.when(
        (F.col("zeros") > 0) & (raw <= F.lit(2.5 * m)), linear
    ).otherwise(raw)
    return out.select(
        *group_cols,
        "m_used",
        "zeros",
        "reg_sum",
        F.round(est, 3).alias("est"),
    )


def cms_table(
    df: DataFrame,
    value_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Count-min sketch as a relational table: (row, col, cnt).

    The d x w counter matrix of Cormode-Muthukrishnan, built with ONE
    map-side-combinable groupBy over the input exploded d ways — the
    shuffle carries at most d*w rows total regardless of input size,
    the same collapse the HLL build gets. Row hashes are independent
    md5 streams (value salted with the row index), so the estimate
    min_i cnt[i][h_i(v)] has the standard (eps = e/w, delta = e^-d)
    overcount guarantee; counts are exact integers, so the sketch is
    bit-identical in any engine (the DuckDB oracle mirrors this SQL
    shape 1:1).

    Mergeability: two sketches over disjoint inputs add elementwise —
    union the tables and sum cnt per (row, col).
    """
    rows = F.explode(
        F.array(*[F.lit(i) for i in range(depth)])
    ).alias("row")
    col = _md5_slot(F.col(value_col), F.col("row"), width)
    return (
        df.select(F.col(value_col), rows)
        .select("row", col.alias("col"))
        .groupBy("row", "col")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_lookup(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """keys + (est): point-query the sketch for each key row.

    est = min over the d rows of the addressed counter — never an
    undercount, overcounts bounded by the sketch guarantee. The sketch
    is at most d*w rows, so it broadcasts; the keys side never
    shuffles.
    """
    rows = F.explode(
        F.array(*[F.lit(i) for i in range(depth)])
    ).alias("row")
    col = _md5_slot(F.col(key_col), F.col("row"), width)
    addressed = keys.select(F.col(key_col), rows).select(
        key_col, "row", col.alias("col")
    )
    joined = addressed.join(F.broadcast(sketch), ["row", "col"], "left")
    return joined.groupBy(key_col).agg(
        F.min(F.coalesce("cnt", F.lit(0))).alias("est")
    )


def cms_oracle_sql(
    table: str,
    value_col: str,
    key_select: str,
    depth: int = 4,
    width: int = 1024,
) -> str:
    """DuckDB SQL mirroring cms_table + cms_lookup for ``key_select``
    (a subquery yielding one column named ``key``)."""
    return f"""
WITH rows AS (SELECT unnest(range({depth})) AS row),
sketch AS (
  SELECT row,
         ('0x' || substr(md5(CAST({value_col} AS VARCHAR) || '#' || row), 1, 13))::BIGINT % {width} AS col,
         count(*) AS cnt
  FROM {table} CROSS JOIN rows
  GROUP BY 1, 2
),
keys AS ({key_select}),
addressed AS (
  SELECT k.key, r.row,
         ('0x' || substr(md5(CAST(k.key AS VARCHAR) || '#' || r.row), 1, 13))::BIGINT % {width} AS col
  FROM keys k CROSS JOIN rows r
)
SELECT a.key, min(coalesce(s.cnt, 0)) AS est
FROM addressed a LEFT JOIN sketch s USING (row, col)
GROUP BY a.key
"""


def heavy_hitters(
    df: DataFrame,
    value_col: str,
    theta_num: int,
    theta_den: int,
    depth: int = 4,
    width: int = 8192,
) -> DataFrame:
    """(value, n): every value whose EXACT count satisfies
    n * theta_den >= theta_num * N (theta = theta_num/theta_den as
    integer math — no float threshold), over a value stream that is
    never fully shuffled on its key.

    The classic sketch-then-verify heavy-hitters plan (Cormode-
    Muthukrishnan CMS candidates + exact second pass):

    1. CANDIDATES: build the d×w count-min sketch (:func:`cms_table` —
       one scan, the shuffle collapses to <= d*w rows) and MATERIALIZE
       it (the corpus scan behind it must execute once, not once per
       probe row below); attach each row's d addressed counters via d
       per-hash-row BROADCAST joins (the sketch is <= d*w rows by
       construction, so every join is map-side — no exchange touches
       the value stream), then filter
       least_i(cnt_i) * theta_den >= theta_num * N. CMS never
       undercounts, so the survivors are a guaranteed superset of the
       true heavy hitters; N itself is the row-0 column sum of the
       sketch (every value lands in exactly one column per row) — a
       one-row agg over the materialized sketch, no extra counting
       scan. NOT literal lookup arrays: folding the grid into
       F.lit(...) arrays makes plan/codegen cost linear in d*w
       (measured 4.9 s at width 1024 vs 29.3 s at 16384 on identical
       data); the broadcast-join form is width-independent.
    2. VERIFY: exact count of ONLY the candidate-matched rows (the
       filter runs below the exchange, so the groupBy shuffles
       candidate occurrences map-side-combined to candidate
       cardinality per task), then the exact integer threshold.

    The output is a pure function of the data — sketch false positives
    are killed by the exact pass, so the oracle is plain GROUP BY /
    HAVING SQL with no sketch modelling. Two scans of the value stream
    total (the BM25 rule: a columnar re-scan beats materializing a
    corpus-sized token table); the only vocabulary-keyed shuffle
    carries candidates, never the thin tail — the reason this exists
    instead of a straight two-phase groupBy whose map-side combine
    still ships every partition's full vocabulary. Size ``width``
    toward N/threshold so collisions don't bloat the candidate set
    (overcounts cost shuffle, never correctness).
    """
    from .kg import _materialize

    # The sketch here is INTERNAL: the exact verify pass kills its false
    # positives, so the output is a pure function of the data and no
    # oracle mirrors the hash math (unlike cms_table/cms_lookup, whose
    # md5 grid IS the gated result). That frees the hash choice —
    # xxhash64(value, row) is a native 8-byte hash, vs md5's 32-char hex
    # string + string->bigint conv per (row, value) pair, and the stream
    # pays depth hashes in the build plus depth in the probe (round-8:
    # q_heavy_ngrams 4.0 s -> measured below; identical output by the
    # exact-at-threshold and forced-collision pytests).
    rows = F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("row")
    xcol = F.pmod(
        F.xxhash64(F.col(value_col), F.col("row")), F.lit(width)
    ).cast("int")
    sketch = _materialize(
        df.select(F.col(value_col), rows)
        .select("row", xcol.alias("col"))
        .groupBy("row", "col")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = (
        sketch.filter(F.col("row") == 0)
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("n"))
        .collect()[0]["n"]
    )
    probe = df
    for i in range(depth):
        col = F.pmod(
            F.xxhash64(F.col(value_col), F.lit(i)), F.lit(width)
        ).cast("int")
        row_i = sketch.filter(F.col("row") == i).select(
            F.col("col").alias(f"_c{i}"), F.col("cnt").alias(f"_n{i}")
        )
        probe = probe.withColumn(f"_h{i}", col).join(
            F.broadcast(row_i), F.col(f"_h{i}") == F.col(f"_c{i}"), "left"
        )
    ests = [F.coalesce(F.col(f"_n{i}"), F.lit(0)) for i in range(depth)]
    est = F.least(*ests) if depth > 1 else ests[0]
    return (
        probe.filter(est * F.lit(theta_den) >= F.lit(theta_num * total))
        .groupBy(F.col(value_col).alias("value"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") * F.lit(theta_den) >= F.lit(theta_num * total))
    )


def bloom_bits(
    df: DataFrame,
    value_col: str,
    k: int = 4,
    m_bits: int = 65536,
) -> DataFrame:
    """Bloom filter as a relational table: the set of SET bit positions.

    Completes the mergeable-sketch family (distinct ≅ HLL, frequency ≅
    CMS, membership ≅ Bloom). Each value sets k bit positions derived
    from independent md5 streams (value salted with the hash index, the
    :func:`_md5_slot` of :func:`cms_table`); the filter IS the distinct
    (bit) table, at most ``m_bits`` rows no matter how many input rows —
    the groupBy is map-side combinable, so the shuffle carries O(m_bits)
    rows regardless of input size. Mergeability: the union of two
    corpora's filters is the distinct union of their bit tables
    (elementwise OR ≅ set union of set positions). :func:`bloom_contains`
    tests membership against this table.

    Integer-exact and engine-portable: bit = first-13-hex-chars of
    md5(value#i) mod m_bits — the DuckDB oracle mirrors it 1:1, so the
    false-positive behaviour is deterministic and identical across
    engines (what the parity gate hashes).
    """
    idx = F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("i")
    return (
        df.select(F.col(value_col), idx)
        .select(_md5_slot(F.col(value_col), F.col("i"), m_bits).alias("bit"))
        .distinct()
    )


def bloom_contains(
    bits: DataFrame,
    key: Column,
    k: int = 4,
    m_bits: int = 65536,
) -> Column:
    """Boolean Column: are all k bits that ``key`` addresses set in the
    filter ``bits`` (a :func:`bloom_bits` table of the same k and m_bits)?

    Standard Bloom semantics: no false negatives, false positives bounded
    at (1-e^{-kn/m})^k, addressed by the same :func:`_md5_slot` as
    :func:`bloom_bits`, so the oracle's false positives are this test's.
    The driver collects the bit table (at most ``m_bits`` rows) once and
    packs it 8 bits per byte into ONE binary literal (m_bits/8 bytes),
    tested by a ``forall`` over the k salts, so the literal appears once
    in the plan. The test is row-local: the probe side never joins,
    shuffles or explodes — the filter is a data-induced predicate applied
    where the keys are scanned, the scale shape for decontaminating a
    100 TB corpus against a benchmark-suite filter.
    """
    flags = np.zeros(m_bits, dtype=bool)
    flags[bits.toArrow().column("bit").to_numpy()] = True
    table = F.lit(np.packbits(flags, bitorder="little").tobytes())

    def is_set(i: Column) -> Column:
        slot = _md5_slot(key, i, m_bits)
        byte = F.substring(table, F.shiftright(slot, 3) + 1, F.lit(1))
        return F.getbit(F.conv(F.hex(byte), 16, 10).cast("int"), slot % 8) == 1

    return F.forall(F.array(*[F.lit(i) for i in range(k)]), is_set)


def hll_oracle_sql(
    table: str,
    group_cols: list[str],
    value_col: str,
    p: int = 8,
) -> str:
    """DuckDB SQL computing the identical registers + estimate."""
    m = 1 << p
    alpha = _alpha(m)
    hex_chars = p // 4
    g = ", ".join(group_cols)
    pow_exp = float(2 * p + _RHO_MAX)
    return f"""
WITH hashed AS (
  SELECT {g},
         ('0x' || substr(md5(CAST({value_col} AS VARCHAR)), 1, {hex_chars}))::BIGINT AS bucket,
         ('0x' || substr(md5(CAST({value_col} AS VARCHAR)), {hex_chars + 1}, 13))::BIGINT AS w
  FROM {table}
), regs AS (
  SELECT {g}, bucket,
         max(CASE WHEN w = 0 THEN {_RHO_MAX}
                  ELSE instr(lpad(bin(w), {_W_BITS}, '0'), '1') END) AS reg
  FROM hashed GROUP BY {g}, bucket
), agg AS (
  SELECT {g},
         count(*) AS m_used,
         CAST({m} - count(*) AS BIGINT) AS zeros,
         sum((1::BIGINT << ({_RHO_MAX} - reg)))::BIGINT
           + ({m} - count(*))::BIGINT * (1::BIGINT << {_RHO_MAX}) AS reg_sum
  FROM regs GROUP BY {g}
)
SELECT {g}, m_used, zeros, reg_sum,
       round(CASE WHEN zeros > 0
                   AND {alpha!r} * power(2.0, {pow_exp!r}) / CAST(reg_sum AS DOUBLE) <= {2.5 * m!r}
             THEN CAST({m} AS DOUBLE) * ln(CAST({m} AS DOUBLE) / CAST(zeros AS DOUBLE))
             ELSE {alpha!r} * power(2.0, {pow_exp!r}) / CAST(reg_sum AS DOUBLE)
             END, 3) AS est
FROM agg
"""
