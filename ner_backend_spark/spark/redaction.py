"""Distributed PII redaction over a document table.

Reference semantics: internal/chat/session.go:67-107 — predict ->
FilterEntities -> sorted-span placeholder substitution with a stable
``[LABEL_n]`` assignment map. The reference scopes the map to a chat
session; here each document is its own session (fresh map per doc), which
is the only parallelizable scoping — cross-document stable maps would be a
global sequential assignment.

An Arrow-batched kernel through ``session.map_batches``, like the tagger;
the compiled model is cached per executor worker by the tagger's
``_compiled_state``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..core.postprocess import filter_entities
from ..core.redact import TagMetadata, redact_spans
from .session import map_batches
from .tagger import ReportConfig, _compiled_state

REDACTED_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("redacted", StringType(), True),
        StructField("n_redactions", LongType(), False),
    ]
)


def redact_documents(
    docs: DataFrame, config: ReportConfig
) -> DataFrame:
    """(url, redacted, n_redactions): per-document placeholder redaction."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        model = _compiled_state(config)[0]
        urls, outs, counts = [], [], []
        for url, text in zip(pdf["url"].values, pdf["text"].values):
            tb = (text or "").encode("utf-8")
            ents = filter_entities(tb, model.predict(tb))
            redacted, meta = redact_spans(tb, ents, TagMetadata())
            urls.append(url)
            outs.append(redacted)
            counts.append(len(meta.tag_map))
        return pd.DataFrame(
            {"url": urls, "redacted": outs, "n_redactions": counts}
        )

    return map_batches(docs.select("url", "text"), run, REDACTED_SCHEMA)
