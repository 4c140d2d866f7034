"""Deterministic synthetic `pages` table (Common-Crawl-style, per input_hint).

Schema: pages(url string, warc_ts timestamp, html binary, text string,
lang string) with the per-row invariant text == html.decode('utf-8') —
the reference's identity plaintext extraction
(internal/storage/parser.go:42,98-122).

Seeded (42) generation: urls over a Zipf-skewed domain set (exercises
hot-domain salting), page text mixing the reference's own golden documents
(FIXTURES.md §3, cited below) with deterministic filler sentences.
"""

from __future__ import annotations

import datetime as dt
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

SEED = 42

# internal/core/processor_test.go:48
TEST_DOC = (
    "This is a test doc. It contains a phone number: 012-345-6789, "
    "an email: test@email.com, and a special token a1b2c3."
)

# internal/core/presidio_test.go:22-53
PRESIDIO_PARAGRAPH = (
    "The story of Leo Morgan fitness journey began in Boston witnessed by "
    "their national ID 789-67-4567 and visa permit 56482937 Their tranquil "
    "abode at 0899 Mark Centers Anthonyfurt, NE 61628 masked the suspense of "
    "their mother's maiden name, Russell Drop an email to sonia41@example.net "
    "for more."
)

# internal/integration_tests/inference_test.go:35-44
UNICODE_TEXT = """Name: Zoë Faulkner \U0001f31f | Address: 742 Evergreen Terrace, Springfield \U0001f3e1 | SSN: 123-45-6789 \U0001f194
Name: Jürgen Müller \U0001f9d1‍\U0001f52c | Email: jurgen.müller@example.de \U0001f4e7 | City: München, Germany \U0001f1e9\U0001f1ea
Name: Aiko Tanaka \U0001f38e | Phone: +81-90-1234-5678 \U0001f4f1 | Prefecture: 東京 (Tokyo) \U0001f5fc
Name: Carlos Andrés Pérez \U0001f3ad | Passport: X12345678 \U0001f1e8\U0001f1f4 | Address: Calle 123, Bogotá \U0001f3d9️
Name: Fatima Al-Fulan \U0001f9d5 | National ID: 789654321 \U0001faaa | City: دبي (Dubai) \U0001f1e6\U0001f1ea
Name: Olamide Okoro \U0001f9d1‍\U0001f4bb | Email: olamide.okoro@nigeria.ng \U0001f4e7 | Address: 12 Unity Rd, Lagos \U0001f1f3\U0001f1ec
Name: Chloé Dubois \U0001f3a8 | SSN: 987-65-4321 \U0001f510 | City: Marseille \U0001f1eb\U0001f1f7
Name: Иван Иванов \U0001f4da | Phone: +7 495 123-45-67 ☎️ | City: Москва (Moscow) \U0001f1f7\U0001f1fa
Name: 李小龍 (Bruce Lee) \U0001f409 | Email: brucelee@kungfu.cn \U0001f4e9 | Province: 廣東 (Guangdong) \U0001f3ef
Name: Amelia O’Connell \U0001f340 | Address: 1 Abbey Rd, Dublin \U0001f1ee\U0001f1ea | PPSN: 1234567TA \U0001f5c3️"""

_FILLER_SENTENCES = [
    "The committee approved the proposal after a lengthy debate.",
    "Rainfall totals exceeded seasonal averages across the region.",
    "The library extended its opening hours for the exam period.",
    "Local engineers unveiled a prototype of the new transit system.",
    "Volunteers planted native shrubs along the riverbank trail.",
    "The orchestra announced its program for the autumn season.",
    "Researchers published a survey of coastal erosion patterns.",
    "The bakery on Elm Street won a regional pastry award.",
    "Negotiators reached a tentative agreement late on Thursday.",
    "The museum opened a wing dedicated to maritime history.",
]

_PII_SNIPPETS = [
    "Contact us at alice.smith@example.com for details.",
    "Call 555-867-5309 to reserve a seat.",
    "Her SSN 321-54-9876 appeared in the leaked file.",
    "Visit https://news.example.org/story for the report.",
    "The meeting is on 12/11/2024 at the annex.",
    "Send mail to support@shop.example.net with your order id.",
    "Backup line: 212-555-0198 available after hours.",
    "Archived at www.archive.example.com/page/77 yesterday.",
]

# 40 diverse local-part prefixes for generated emails (see
# pages_df_distributed): different prefixes → low trigram similarity →
# realistic LSH bucket sizes.
_EMAIL_NAMES = [
    "alice", "bob", "carol", "dave", "erin", "frank", "grace", "heidi",
    "ivan", "judy", "karim", "lena", "mallory", "nina", "oscar", "peggy",
    "quentin", "rosa", "sybil", "trent", "ursula", "victor", "wendy",
    "xena", "yusuf", "zelda", "arthur", "beatriz", "chen", "dmitri",
    "elena", "farid", "gita", "hana", "ingrid", "jorge", "kofi", "lucia",
    "marco", "noor",
]

_URL_SLUGS = [
    "guides", "articles", "notes", "reports", "manuals", "briefs",
    "digests", "papers", "reviews", "updates",
]

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), False),
        StructField("text", StringType(), False),
        StructField("lang", StringType(), False),
    ]
)

_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def _zipf_domain(rng: random.Random, n_domains: int) -> str:
    # Zipf-ish: domain i chosen with weight 1/(i+1); domain 0 is "hot".
    weights = [1.0 / (i + 1) for i in range(n_domains)]
    return f"site{rng.choices(range(n_domains), weights=weights)[0]}.example"


def generate_rows(n: int = 200, n_domains: int = 12) -> list[tuple]:
    """Deterministic page rows; every run yields identical bytes."""
    rng = random.Random(SEED)
    rows: list[tuple] = []

    goldens = [
        ("golden/testdoc", TEST_DOC),
        ("golden/presidio", PRESIDIO_PARAGRAPH),
        ("golden/unicode", UNICODE_TEXT),
    ]
    # internal/integration_tests/inference_test.go:91-104
    for i in range(10):
        goldens.append(
            (f"golden/phone-{i}", f"this file contains a phone number {i}{i}{i}-123-4567")
        )
        goldens.append(
            (f"golden/email-{i}", f"this file contains a email address id-{i}@email.com")
        )
    goldens.append(("golden/custom-token", "this is a custom token a1b2c3"))

    for path, text in goldens:
        rows.append(_row(f"https://golden.example/{path}", len(rows), text))

    while len(rows) < n:
        domain = _zipf_domain(rng, n_domains)
        sentences = rng.choices(_FILLER_SENTENCES, k=rng.randint(3, 12))
        if rng.random() < 0.6:
            sentences.insert(
                rng.randrange(len(sentences) + 1), rng.choice(_PII_SNIPPETS)
            )
        text = " ".join(sentences)
        rows.append(_row(f"https://{domain}/page/{len(rows)}", len(rows), text))

    # n smaller than the golden set returns exactly n rows (callers size
    # tables precisely); any n >= 24 is unaffected
    return rows[:n]


def _row(url: str, i: int, text: str) -> tuple:
    ts = _EPOCH + dt.timedelta(seconds=i * 37)
    return (url, ts.replace(tzinfo=None), text.encode("utf-8"), text, "en")


def pages_df(spark: SparkSession, n: int = 200, n_domains: int = 12) -> DataFrame:
    return spark.createDataFrame(generate_rows(n, n_domains), PAGES_SCHEMA)


def pages_df_distributed(
    spark: SparkSession,
    n: int,
    n_domains: int = 12,
    partitions: int = 64,
    surface_scale: int = 1,
) -> DataFrame:
    """Distributed deterministic pages table for benchmark-scale inputs.

    Unlike :func:`pages_df` (driver-side list, fine for ≤ a few thousand
    rows), this generates rows inside ``mapInPandas`` over ``spark.range``,
    so a 10^8-row bench table never materializes on the driver. Each row is
    seeded by its own id — the output is byte-identical regardless of
    partitioning or parallelism, which is what makes the N-vs-4N scaling
    run a fair comparison on identical input.
    """
    import pandas as pd

    schema = (
        "url string, warc_ts timestamp, html binary, text string, lang string"
    )

    def gen(batches):
        for pdf in batches:
            rows = [
                distributed_row(int(i), n, n_domains, surface_scale)
                for i in pdf["id"]
            ]
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    return spark.range(0, n, 1, partitions).mapInPandas(gen, schema)


def distributed_row(
    i: int, n: int, n_domains: int = 12, surface_scale: int = 1
) -> tuple:
    """Row ``i`` of the ``n``-row distributed pages table — a pure function
    of (SEED, i, n, n_domains, surface_scale), shared by the Spark kernel
    (pages_df_distributed) and the pure-Python oracle twin
    (generate_rows_distributed) so both sides see identical bytes."""
    rng = random.Random((SEED << 32) ^ i)
    domain = _zipf_domain(rng, n_domains)  # same single rng draw as inline
    sentences = rng.choices(_FILLER_SENTENCES, k=rng.randint(3, 12))
    if rng.random() < 0.6:
        sentences.insert(
            rng.randrange(len(sentences) + 1), rng.choice(_PII_SNIPPETS)
        )
    # Bounded-cardinality entity surfaces (≈2k distinct emails,
    # ≈1k phones, ≈500 urls across any n): gives the KG layer a
    # real mention graph — repeated surfaces across pages, plus a
    # near-identical .alt variant per email so linking has true
    # positives. Name prefixes keep DIFFERENT ids dissimilar
    # (diverse LSH buckets); an all-templated surface set would
    # collapse into one giant bucket, which is a skew pathology,
    # not a workload.
    # entity cardinality grows with corpus size (each surface
    # repeats on ~120 pages on average), like real web data.
    # surface_scale multiplies distinct-surface cardinality at
    # a fixed page count (more distinct mentions -> more rows
    # per CC round)
    if rng.random() < 0.5:
        uid = i % (max(2000, n // 120) * surface_scale)
        name = _EMAIL_NAMES[uid % len(_EMAIL_NAMES)]
        sentences.append(
            f"Reach {name}.{uid}@example.com or the backup "
            f"{name}.{uid}.alt@example.com today."
        )
    if rng.random() < 0.3:
        p = i % (max(1000, n // 240) * surface_scale)
        sentences.append(
            f"Hotline 555-{p % 900 + 100:03d}-{(p * 7) % 10000:04d} "
            "is open around the clock."
        )
    if rng.random() < 0.2:
        s = i % (max(500, n // 480) * surface_scale)
        slug = _URL_SLUGS[s % len(_URL_SLUGS)]
        sentences.append(f"Details at https://kb.example.org/{slug}/{s}.")
    text = " ".join(sentences)
    ts = _EPOCH + dt.timedelta(seconds=i * 37)
    return (
        f"https://{domain}/page/{i}",
        ts.replace(tzinfo=None),
        text.encode("utf-8"),
        text,
        "en",
    )


def generate_rows_distributed(
    n: int, n_domains: int = 12, surface_scale: int = 1
) -> list[tuple]:
    """Pure-Python twin of pages_df_distributed (oracle duty)."""
    return [distributed_row(i, n, n_domains, surface_scale) for i in range(n)]


def integration_pages_df(spark: SparkSession) -> DataFrame:
    """Only the 21 files of the reference E2E golden (inference_test.go:91-104)."""
    rows = []
    for i in range(10):
        rows.append(
            _row(f"phone-{i}.txt", i, f"this file contains a phone number {i}{i}{i}-123-4567")
        )
        rows.append(
            _row(f"email-{i}.txt", i, f"this file contains a email address id-{i}@email.com")
        )
    rows.append(_row("custom-token.txt", 20, "this is a custom token a1b2c3"))
    return spark.createDataFrame(rows, PAGES_SCHEMA)
