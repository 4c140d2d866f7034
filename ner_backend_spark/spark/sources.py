"""Extension-routed object parsing: the reference's storage parser as a
DataFrame transform.

Reference semantics (internal/storage/parser.go:33-120 DefaultParser):

* ``.txt .csv .html .json .xml`` -> plaintext: the raw bytes decoded as
  UTF-8, emitted in chunks of ``max_chunk_size`` bytes with byte offsets
  (chunk boundaries may split multi-byte sequences; the reference's
  ``string(chunk)`` does exactly that and downstream cleaning sanitizes).
* ``.pdf`` -> page texts joined by ``\\n\\n`` (parser.go:57-96 via
  go-fitz). The sandbox ships no PDF codec, so this path is GATED: with
  pymupdf importable the real extraction runs; without it the row carries
  an ``error`` — mirroring the reference, which emits ``Chunk{Error}`` on
  any pdf failure rather than crashing the worker.
* anything else -> ``ErrUnsupportedFileType`` (parser.go:44-46): emitted
  as an error row so a pipeline can count/route rejects (the reference
  logs-and-skips; a row is the relational rendering of that).

The plaintext path is pure JVM (codegen: regexp ext routing + binary
substring + decode); only the pdf branch needs Python, and only rows
routed to it enter the kernel.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PLAINTEXT_EXTS = ("txt", "csv", "html", "json", "xml")  # parser.go:42
ERR_UNSUPPORTED = "unsupported file type"  # parser.go:31

CHUNK_SCHEMA = (
    "url string, chunk_offset long, text string, raw_size long, error string"
)

DEFAULT_MAX_CHUNK = 512 * 1024 * 1024  # parser.go:23


def object_ext(path_col) -> F.Column:
    """Lowercased extension (without dot), '' if none — filepath.Ext."""
    return F.lower(F.regexp_extract(path_col, r"\.([^./\\]+)$", 1))


def _pdf_text(data: bytes) -> "tuple[str, str | None]":
    """(text, error): real extraction when a codec is importable."""
    try:
        import fitz  # pymupdf — the python sibling of go-fitz
    except ImportError:
        return "", "pdf parsing unavailable: pymupdf not installed"
    try:
        with fitz.open(stream=data, filetype="pdf") as doc:
            return "\n\n".join(page.get_text() for page in doc), None
    except Exception as exc:  # parser.go emits Chunk{Error: err}
        return "", f"{type(exc).__name__}: {exc}"[:500]


def parse_objects(
    df: DataFrame,
    path_col: str = "url",
    data_col: str = "html",
    max_chunk_size: int = DEFAULT_MAX_CHUNK,
) -> DataFrame:
    """(url, chunk_offset, text, raw_size, error) per input object.

    Plaintext objects expand to ceil(size / max_chunk_size) rows with byte
    offsets; pdf and unsupported objects yield one row each (text or
    error). All routing happens once on the extension column, so the
    Python kernel sees only pdf rows.
    """
    src = df.select(
        F.col(path_col).alias("url"),
        # NULL data normalizes to the empty object up front: greatest/least
        # SKIP null arguments, so a null payload downstream would otherwise
        # yield a phantom error-free chunk with raw_size = max_chunk_size
        # (round-3 review finding, confirmed by execution)
        F.coalesce(F.col(data_col), F.lit(b"")).alias("data"),
        object_ext(F.col(path_col)).alias("_ext"),
    )

    n_bytes = F.octet_length("data")
    n_chunks = F.greatest(
        F.ceil(n_bytes / F.lit(max_chunk_size)).cast("int"), F.lit(1)
    )
    plain = (
        src.filter(F.col("_ext").isin(*PLAINTEXT_EXTS))
        .select(
            "url",
            "data",
            F.explode(F.sequence(F.lit(0), n_chunks - F.lit(1))).alias("_i"),
        )
        .select(
            "url",
            (F.col("_i").cast("long") * max_chunk_size).alias("chunk_offset"),
            F.decode(
                # 1-based binary substring; length clamps at the tail
                F.expr(
                    f"substring(data, _i * {max_chunk_size}L + 1, "
                    f"{max_chunk_size}L)"
                ),
                "UTF-8",
            ).alias("text"),
            F.least(
                F.octet_length("data") - F.col("_i").cast("long") * max_chunk_size,
                F.lit(max_chunk_size).cast("long"),
            ).alias("raw_size"),
            F.lit(None).cast("string").alias("error"),
        )
    )

    unsupported = src.filter(
        ~F.col("_ext").isin(*PLAINTEXT_EXTS) & (F.col("_ext") != "pdf")
    ).select(
        "url",
        F.lit(0).cast("long").alias("chunk_offset"),
        F.lit(None).cast("string").alias("text"),
        F.octet_length("data").cast("long").alias("raw_size"),
        F.lit(ERR_UNSUPPORTED).alias("error"),
    )

    pdfs = src.filter(F.col("_ext") == "pdf").select("url", "data")

    def run_pdf(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf_batch in batches:
            urls, texts, sizes, errs = [], [], [], []
            for url, data in zip(
                pdf_batch["url"].values, pdf_batch["data"].values
            ):
                text, err = _pdf_text(bytes(data or b""))
                urls.append(url)
                texts.append(text if err is None else None)
                sizes.append(len(data or b""))
                errs.append(err)
            yield pd.DataFrame(
                {
                    "url": urls,
                    "chunk_offset": [0] * len(urls),
                    "text": texts,
                    "raw_size": sizes,
                    "error": errs,
                }
            )

    # not session.map_batches: its fan-out took q_source_chunks (sf0.01) from 1 job to 3
    pdf_rows = pdfs.mapInPandas(run_pdf, CHUNK_SCHEMA)
    return plain.unionByName(unsupported).unionByName(pdf_rows)


def supported_chunks(parsed: DataFrame) -> DataFrame:
    """The rows a report job consumes (error-free), parser-agnostic."""
    return parsed.filter(F.col("error").isNull())
