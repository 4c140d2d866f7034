"""Continuous KG construction: micro-batches of entities merge into a
persistent canonical assignment — equivalent to a from-scratch rebuild.

The batch KG layer (spark/kg.py) is a one-shot pipeline. A Common-Crawl
refresh feed needs the incremental form: each new crawl slice adds mentions
and edges, and clusters must MERGE with what is already known, without
re-scoring the full historical pair set. Three persistent tables under
``base_dir`` make that possible:

- ``mentions/batch=N``  append-only (mention_id, label, text, norm) —
  a mention's identity is content-addressed (xxhash64 of label+text), so
  appends are idempotent per batch id.
- ``bands/batch=N``     append-only LSH banding. A mention's bands depend
  only on its own surface (kg.band_signatures), so blocking NEW mentions
  against ALL mentions is one join of the new bands against the stored
  banding table — the historical side is never recomputed.
- ``assign_vN``         the (id, component) star forest after batch N.
  kg.incremental_components re-runs the CC fixpoint over O(nodes) star
  edges + the batch's delta edges, not the historical edge set.

Every pair the batch pipeline would propose is proposed here exactly once —
when the later of its two mentions arrives, both bands are present — so the
scored edge set over time equals the batch edge set, and min-id components
make the final assignment identical to a full rebuild
(tests/test_kg_incremental.py pins this equivalence).

Crash safety: all three writes are keyed by batch id (overwrite of the same
subdir on retry), so a foreachBatch redelivery after a crash is idempotent;
the assignment pointer is "largest assign_vN present".

Known divergence: with ``max_bucket_size`` set, the skew cap is evaluated
against bucket occupancy AT ARRIVAL TIME — a bucket that later exceeds the
cap keeps the pairs it produced while small, whereas a batch rebuild drops
the whole bucket. The batch/incremental equivalence pinned by the tests
holds for the uncapped configuration; treat the cap as a per-batch skew
guard, not a global semantic.
"""

from __future__ import annotations

import json
import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..spark.checkpoint import alias_fingerprint, check_lineage, write_observed
from ..spark.kg import (
    alias_candidates,
    band_signatures,
    canonical_map,
    drop_oversized,
    extract_mentions,
    incremental_components,
    link_edges,
    with_components,
    with_trigrams,
)

# the state tables' columns in the order they are written: every read
# declares its schema, so none pays a footer-reading schema-inference job;
# the partitioned tables still gain their ``batch`` column from the paths
_MENTION_SCHEMA = "mention_id long, label string, text string, norm string"
_ASSIGN_SCHEMA = "id long, component long"
_BAND_SCHEMA = "mention_id long, label string, band int, band_hash int"


class IncrementalKg:
    """Stateful canonicalizer: feed entity micro-batches, read clusters.

    ``base_dir`` must be local (a plain path or a ``file:`` URI): the state
    probes and the assignment commit are local file operations
    (``os.listdir``, ``open``, ``os.rename``), so any other scheme is
    refused before anything is created or written.
    """

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        alias_df: DataFrame | None = None,
        threshold: float = 0.5,
        max_bucket_size: int | None = None,
    ):
        url = urlparse(base_dir)
        if url.scheme not in ("", "file"):
            raise ValueError(
                f"IncrementalKg keeps its state in a local directory; "
                f"base_dir {base_dir!r} has scheme {url.scheme!r}"
            )
        self.spark = spark
        self.base = (url.path if url.scheme else base_dir).rstrip("/")
        self.alias_df = alias_df
        self.threshold = threshold
        self.max_bucket_size = max_bucket_size
        os.makedirs(self.base, exist_ok=True)
        self._check_lineage()

    def _check_lineage(self) -> None:
        """Pin tuning params (and the alias dictionary) to the state dir.

        Resuming with a different threshold, bucket cap or dictionary would
        mix edges computed under one setting with edges under another — a
        silent hybrid, the failure class checkpoint_kg guards against.
        Refuse it.
        """
        params = {
            "threshold": self.threshold,
            "max_bucket_size": self.max_bucket_size,
            "alias_fp": alias_fingerprint(self.alias_df),
        }
        path = f"{self.base}/params.json"
        if os.path.exists(path):
            with open(path) as f:
                check_lineage([f.read()], params, self.base)
        else:
            with open(path, "w") as f:
                json.dump(params, f)

    # -- state tables -------------------------------------------------------

    def _read_or_empty(
        self, sub: str, schema: str, exclude_batch: int | None = None
    ) -> DataFrame:
        path = f"{self.base}/{sub}"
        if any(
            d.startswith("batch=") for d in _ls(path)
        ):
            df = self.spark.read.schema(schema).parquet(path)
            if exclude_batch is not None:
                df = df.filter(F.col("batch") != exclude_batch)
            return df.drop("batch")
        return self.spark.createDataFrame([], schema)

    def mentions(self, exclude_batch: int | None = None) -> DataFrame:
        return self._read_or_empty(
            "mentions", _MENTION_SCHEMA, exclude_batch=exclude_batch
        )

    def _latest_assign_version(self) -> int | None:
        vs = [
            int(d[len("assign_v"):])
            for d in _ls(self.base)
            if d.startswith("assign_v")
        ]
        return max(vs) if vs else None

    def assignment(self) -> DataFrame:
        v = self._latest_assign_version()
        if v is None:
            return self.spark.createDataFrame([], _ASSIGN_SCHEMA)
        return self.spark.read.schema(_ASSIGN_SCHEMA).parquet(
            f"{self.base}/assign_v{v}"
        )

    # -- the per-batch update ------------------------------------------------

    def process_batch(self, entities: DataFrame, batch_id: int) -> None:
        """Merge one micro-batch of (url, label, text) entities.

        Idempotent per batch_id: a redelivered batch overwrites its own
        subdirs and recomputes the same assignment.
        """
        if os.path.exists(f"{self.base}/assign_v{batch_id}"):
            return  # this exact batch already committed (assign is the marker)

        # dedup against OTHER batches only: a redelivery after a crash that
        # wrote mentions/batch=N but not assign_vN must not anti-join against
        # its own partial write (that would overwrite batch=N with an empty
        # table and silently drop the mentions forever)
        known = self.mentions(exclude_batch=batch_id).select("mention_id")
        new_m = extract_mentions(entities).join(known, "mention_id", "left_anti")
        n_new_mentions = write_observed(
            new_m, f"{self.base}/mentions/batch={batch_id}"
        )["n"]
        # re-read: cuts lineage to the (possibly streaming-sourced) input and
        # guarantees bands are computed over exactly what was committed
        new_m = self.spark.read.schema(_MENTION_SCHEMA).parquet(
            f"{self.base}/mentions/batch={batch_id}"
        )
        band_signatures(new_m).write.mode("overwrite").parquet(
            f"{self.base}/bands/batch={batch_id}"
        )

        # a join, not kg.bucket_pairs' self-join: the new side is small
        # enough to broadcast, while a self-join would reshuffle every
        # stored band on each batch
        all_bands = drop_oversized(
            self._read_or_empty("bands", _BAND_SCHEMA),
            ["band", "band_hash", "label"],
            self.max_bucket_size,
        )
        new_bands = self.spark.read.schema(_BAND_SCHEMA).parquet(
            f"{self.base}/bands/batch={batch_id}"
        )
        l, r = new_bands.alias("l"), all_bands.alias("r")
        pairs = (
            l.join(
                r,
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.band_hash") == F.col("r.band_hash"))
                & (F.col("l.label") == F.col("r.label"))
                & (F.col("l.mention_id") != F.col("r.mention_id")),
            )
            .select(
                F.least("l.mention_id", "r.mention_id").alias("id_a"),
                F.greatest("l.mention_id", "r.mention_id").alias("id_b"),
            )
            .distinct()
        )
        edges = link_edges(
            pairs,
            with_trigrams(self.mentions()),
            alias_candidates(new_m, self.alias_df),
            self.threshold,
        )

        seed = self.assignment().unionByName(
            new_m.select(
                F.col("mention_id").alias("id"),
                F.col("mention_id").alias("component"),
            )
        )
        assign = incremental_components(seed, edges)
        staging = f"{self.base}/_assign_staging_v{batch_id}"
        # counted as written, never driver-side running counters; every
        # star-forest root points at itself, so roots count the components
        counts = write_observed(
            assign,
            staging,
            F.count(F.lit(1)).alias("n_nodes"),
            F.count_if(F.col("id") == F.col("component")).alias("n_components"),
        )
        # counter metrics BEFORE the assign_v{batch} commit marker lands:
        # redelivery early-returns on that marker, so anything written after
        # it is outside the idempotency window — a crash in between would
        # lose the batch's metrics forever (round-3 review finding).
        metrics = {"batch_id": batch_id, "n_new_mentions": n_new_mentions, **counts}
        with open(f"{self.base}/metrics_v{batch_id}.json", "w") as f:
            json.dump(metrics, f)
        # the rename is the commit point: marker appears only after both the
        # data and its metrics are durable
        os.rename(staging, f"{self.base}/assign_v{batch_id}")

    # -- read views ----------------------------------------------------------

    def components(self) -> DataFrame:
        """(id, component) for mentions only (virtual alias nodes hidden)."""
        return with_components(self.mentions(), self.assignment()).select(
            F.col("mention_id").alias("id"), "component"
        )

    def canonical(self) -> DataFrame:
        """(label, text, canonical) over everything merged so far."""
        mentions = self.mentions()
        return canonical_map(
            mentions, self.assignment(), alias_candidates(mentions, self.alias_df)
        )

    # -- streaming attachment --------------------------------------------------

    def attach(
        self,
        entities_stream: DataFrame,
        checkpoint_path: str,
        available_now: bool = True,
    ) -> StreamingQuery:
        """Drive the updater from a streaming entities DataFrame.

        foreachBatch + the per-batch-id idempotency above gives effective
        exactly-once state updates across restarts — PROVIDED batch ids are
        monotone for this state dir, which Structured Streaming guarantees
        per checkpoint location. A different checkpoint restarts ids at 0
        and would collide with committed assign_vN markers, so the state
        dir is bound to its first checkpoint path and other paths refused.
        """
        marker = f"{self.base}/stream_checkpoint.json"
        # normalize ONLY schemeless local paths: abspath on a URI would
        # mangle it ('file:///x' -> '<cwd>/file:/x') and abspath on a
        # relative path binds the state to the driver's cwd, refusing a
        # legitimate resume from another working dir (round-3 review
        # finding). URIs are compared verbatim.
        import re as _re

        if _re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:", checkpoint_path):
            norm = checkpoint_path.rstrip("/")
        else:
            norm = os.path.abspath(checkpoint_path)
        if os.path.exists(marker):
            with open(marker) as f:
                stored = json.load(f)["checkpoint_path"]
            if stored != norm:
                raise ValueError(
                    "IncrementalKg state at %s is bound to stream checkpoint "
                    "%s; attaching with %s would restart batch ids and drop "
                    "batches — use the original checkpoint or a fresh "
                    "base_dir" % (self.base, stored, norm)
                )
        else:
            with open(marker, "w") as f:
                json.dump({"checkpoint_path": norm}, f)
        writer = entities_stream.writeStream.foreachBatch(
            lambda df, bid: self.process_batch(df, bid)
        ).option("checkpointLocation", checkpoint_path)
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()


def _ls(path: str) -> list[str]:
    try:
        return os.listdir(path)
    except FileNotFoundError:
        return []
