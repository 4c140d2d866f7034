"""Seeded input generator for the benchmark.

Every input is a slice of ``fixtures.distributed_row``: the seed picks a
disjoint window of row ids, so the row distribution stays the same from
seed to seed while the rows themselves differ. A window holds the warm-up
slice first and then the slices of the timed work; slices never overlap,
so nothing the warm-up writes can be reused by the timed pass.

The program under test only ever sees the parquet files written here.
Pages keep the full ``pages`` schema. The refresh workload starts from
pre-tagged entities: (url, label, text) rows cut out of the same page text
by three fixed patterns (e-mail, phone, url), so the tagger does no work
there.
"""

from __future__ import annotations

import os
import re

import pyarrow as pa
import pyarrow.parquet as pq

from ner_backend_spark import fixtures

# Seeds map onto this many windows; the expected output digests of every
# window are recorded in digests.json.
N_WINDOWS = 10

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
ENTITIES_SCHEMA = pa.schema(
    [("url", pa.string()), ("label", pa.string()), ("text", pa.string())]
)
# the same schemas for Spark readers, which then skip footer inference
PAGES_DDL = "url string, html binary, text string"  # the columns the job reads
ENTITIES_DDL = "url string, label string, text string"

_PATTERNS = [
    ("EMAIL", re.compile(r"[A-Za-z0-9._]+@[A-Za-z0-9.-]+\.[a-z]+")),
    ("PHONE", re.compile(r"\b\d{3}-\d{3}-\d{4}\b")),
    ("URL", re.compile(r"https?://[A-Za-z0-9./_-]+[A-Za-z0-9/_-]")),
]


def window_of(seed: int) -> int:
    return seed % N_WINDOWS


def slices(seed: int, sizes: list[int]) -> list[range]:
    """Consecutive id ranges of the given sizes inside ``seed``'s window."""
    base = window_of(seed) * sum(sizes)
    out = []
    for n in sizes:
        out.append(range(base, base + n))
        base += n
    return out


def page_rows(ids: range, nominal: int, surface_scale: int) -> list[tuple]:
    """Rows of the ``nominal``-page table; ``nominal`` fixes the entity
    surface cardinality independently of the slice."""
    return [
        fixtures.distributed_row(i, nominal, 12, surface_scale) for i in ids
    ]


def tag_rows(rows: list[tuple]) -> list[tuple[str, str, str]]:
    """(url, label, text) for every pattern match in the page text."""
    out = []
    for url, _ts, _html, text, _lang in rows:
        for label, pat in _PATTERNS:
            out.extend((url, label, m.group(0)) for m in pat.finditer(text))
    return out


def _write(path: str, schema: pa.Schema, rows: list[tuple], files: int) -> None:
    os.makedirs(path, exist_ok=True)
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.table(
        {f.name: pa.array(c, f.type) for f, c in zip(schema, cols)},
        schema=schema,
    )
    step = -(-table.num_rows // files)
    for k in range(files):
        pq.write_table(
            table.slice(k * step, step), os.path.join(path, f"part-{k:03d}.parquet")
        )


def write_pages(path: str, rows: list[tuple], files: int = 8) -> None:
    _write(path, PAGES_SCHEMA, rows, files)


def write_entities(path: str, rows: list[tuple]) -> None:
    _write(path, ENTITIES_SCHEMA, tag_rows(rows), 1)
