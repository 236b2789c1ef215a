"""Streaming exact-dedup ingest: a continuously arriving document corpus,
deduplicated against everything already ingested, with a bloom index so
steady-state batches never shuffle the full history.

State layout (epoch-keyed; every store follows the replay protocol of
streaming/state_store.py):

    new/epoch=N/     rows of the batch that were NEW at ingest time
                     (first occurrence wins; within-batch duplicates
                     collapse to the lowest doc_id) — the stream output
    keys/epoch=N/    the content keys those rows introduced (delta; the
                     KEY_STORES declaration, state_store.KeyIndex)
    blooms/epoch=N/  FULL merged bloom-shards snapshot after batch N
                     (a state_store snapshot store)
    metrics/epoch=N/ per-batch accounting (load_ingest_metrics)

Per batch the work is: probe the batch's distinct keys against the bloom
snapshot (built-in SQL: the keys' bit positions left-join the
snapshot's word rows; the flags frame is persisted for the batch and
unpersisted after the writes, so the probe runs exactly once), anti-join
ONLY the bloom hits against the key store — which is read with a
``shard IN (<bloom-hit shards>)`` literal predicate, so parquet
row-group stats prune everything outside the hit shards (each key delta
is written clustered by shard for exactly this; at real scale the store
would be directory-partitioned by shard for file-level pruning) — then
OR-merge the new keys' words into the snapshot
(``operators/bloom_dedup.bloom_merge`` — O(index size), independent of
history row count). A miss-only batch never touches the key store at
all. The refresh keys the delta frame the key write was handed, not
the epoch it wrote, and the batch's accounting reads the counts of
the ``new/`` epoch it wrote on the driver, with pyarrow. With no
snapshot below the batch (the first batch, or a lost ``blooms/``)
every key counts as a hit: the anti-join reads the whole key store,
and the refresh keys the whole store into a new snapshot. The reference's analogue is the per-file
``HashSet`` membership check in ``DataControllerSimple.cs``; this is
that check, made restartable and distributed.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.bloom_dedup import (
    DEFAULT_BITS_PER_SHARD,
    DEFAULT_K_HASHES,
    check_bloom_params,
    incremental_new_docs,
)
from ..operators.text_dedup import normalized_text
from .state_store import (
    EpochCache,
    KeyIndex,
    KeyStore,
    compact_key_store,
    load_epochs,
    read_parquet_stream,
    start_batches,
    write_row_epoch,
)

DOCS_SCHEMA = "doc_id long, text string"
# the content-key store: the content hash is the bloom key
KEY_STORES = (KeyStore("keys", "content_sha string", "shard", "content_sha"),)


def compact_ingest_keys(spark: SparkSession, state_dir: str) -> int:
    """Merge the committed key-store epochs (all but the newest) into
    the oldest epoch dir, preserving the shard clustering the
    IN-predicate row-group pruning relies on — the text twin of
    media_ingest.compact_media_index. Offline maintenance; run while
    the stream is stopped. Returns epochs merged."""
    return compact_key_store(spark, state_dir, *KEY_STORES)


def load_ingest_metrics(
    spark: SparkSession, state_dir: str
) -> DataFrame | None:
    """Committed per-batch accounting rows (batch_id, n_in, n_null_key,
    n_batch_dup, n_history_dup, n_new) — invariant per batch:
    n_in == n_null_key + n_batch_dup + n_history_dup + n_new
    (every arriving row is attributed to exactly one outcome; NULL-text
    rows pass through as their own bucket, never deduplicable)."""
    return load_epochs(spark, os.path.join(state_dir, "metrics"), None)


def load_new_docs(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """All rows ever emitted as new, across committed epochs."""
    return load_epochs(spark, os.path.join(state_dir, "new"), None)


def stream_ingest_dedup(
    spark: SparkSession,
    input_path: str,
    state_dir: str,
    checkpoint_dir: str,
    n_shards: int = 32,
    bits_per_shard: int = DEFAULT_BITS_PER_SHARD,
    max_files_per_trigger: int | None = None,
):
    """Start the streaming ingest-dedup query over a parquet document
    stream (``doc_id``, ``text``). Returns the StreamingQuery; read the
    deduplicated corpus with ``load_new_docs(spark, state_dir)``."""
    params = (n_shards, bits_per_shard, DEFAULT_K_HASHES)
    check_bloom_params(*params)
    new_path = os.path.join(state_dir, "new")
    metrics_path = os.path.join(state_dir, "metrics")
    cache = EpochCache(state_dir, "keys")
    # threshold 0: the stream is always engaged, so every batch keeps a
    # snapshot fresh (the first one keys the whole store)
    index = KeyIndex(state_dir, KEY_STORES, params)

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        epoch = f"epoch={batch_id}"
        keyed = batch_df.withColumn(
            "content_sha", F.sha2(normalized_text(F.col("text")), 256)
        )
        # within-batch first-occurrence (lowest doc_id) — history dedup
        # alone would pass both copies of a key that is new this batch.
        # NULL keys (NULL text) are never deduplicable; keep them all.
        w = Window.partitionBy("content_sha").orderBy("doc_id")
        non_null = (
            keyed.filter(F.col("content_sha").isNotNull())
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        batch_first = non_null.unionByName(
            keyed.filter(F.col("content_sha").isNull())
        )

        index.at(s, batch_id, cache.at(batch_id))
        flags = index.probe(batch_first, "content_sha")
        if flags is None:
            # no snapshot below the batch (batch 0, or a lost blooms/):
            # every non-NULL key is a hit, so the anti-join below reads
            # the whole key store and stays exact (the refresh keys the
            # whole store anyway)
            sha = F.col("content_sha")
            flags = batch_first.select(sha).distinct().select(
                sha, sha.isNotNull().alias("might_contain")
            )
        # ONE probe per batch: persist the flags, unpersist after writes
        flags.persist()
        try:
            # only the bloom-hit shards of the key store are read; a
            # miss-only batch reads nothing
            history = index.read("keys")
            if history is None:
                history = s.createDataFrame([], "content_sha string")
            new = incremental_new_docs(
                history, batch_first, "content_sha", flags=flags
            )
            new.write.mode("overwrite").parquet(
                os.path.join(new_path, epoch)
            )
            # derive the key delta and the counts from what was
            # WRITTEN (the later writes cannot disagree with it)
            written = s.read.parquet(os.path.join(new_path, epoch))
            # per-batch accounting (the streaming analogue of the
            # curation funnel's per-stage counters; north rule's metrics
            # tables). No second sha256 pass: content_sha is non-NULL iff
            # text is (sha2 over a trim/lower normalization), so the raw
            # batch contributes only count(1)/count(text) — Catalyst
            # prunes the hash entirely — and n_distinct comes from the
            # already-persisted flags frame (one row per distinct key).
            # The written epoch's counts are read on the driver with
            # pyarrow (no Spark job). Epoch-keyed overwrite like every
            # other state dir, so a crash replay heals its own metrics
            # row too.
            stats = batch_df.agg(
                F.count(F.lit(1)).alias("n_in"),
                F.count("text").alias("n_nonnull"),
            ).collect()[0]
            n_distinct = flags.filter(
                F.col("content_sha").isNotNull()
            ).count()
            n_null = stats.n_in - stats.n_nonnull
            n_batch_first = n_distinct + n_null
            written_keys = pq.read_table(
                os.path.join(new_path, epoch), columns=["content_sha"]
            ).column("content_sha")
            n_total = len(written_keys)
            n_new = n_total - written_keys.null_count
            # disjoint buckets — every arriving row lands in exactly one:
            # NULL-key passthrough, within-batch dup, history dup, or new.
            # Driver-side pyarrow write: a one-row accounting frame is
            # not worth a Spark job (~3.5 s of scheduling per batch)
            write_row_epoch(
                os.path.join(metrics_path, epoch),
                {
                    "batch_id": int(batch_id),
                    "n_in": int(stats.n_in),
                    "n_null_key": int(n_null),
                    "n_batch_dup": int(stats.n_nonnull - n_distinct),
                    "n_history_dup": int(n_batch_first - n_total),
                    "n_new": int(n_new),
                },
            )
            # the non-NULL keys of ``written`` are distinct already
            # (first occurrence per key), so the delta needs no shuffle
            index.write(
                "keys",
                batch_id,
                written.select("content_sha").filter("content_sha IS NOT NULL"),
            )
            index.refresh(batch_id)
        finally:
            flags.unpersist()
        cache.advance(batch_id, "keys")

    return start_batches(
        read_parquet_stream(
            spark, input_path, DOCS_SCHEMA, max_files_per_trigger
        ),
        handle_batch,
        checkpoint_dir,
    )
