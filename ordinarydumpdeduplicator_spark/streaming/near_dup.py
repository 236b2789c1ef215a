"""Streaming near-duplicate clustering (SURVEY.md §2.11 + O19).

``foreachBatch`` over the image stream, where each micro-batch runs the
fully incremental LSH (plans/incremental.py: its resolve step, then its
cluster step): only the batch pays feature extraction, its (rep-only)
band rows are joined against the append-only band index, and only
components touched by new edges re-cluster. The reference's analogue is the re-inspection loop —
this is the same operation with near-duplicate semantics and exactly-once
file processing via the stream checkpoint.

State between batches lives in parquet tables under ``state_dir`` (in
production: Iceberg tables, with the assignment overwrite becoming a
MERGE by cluster_id — sources/merge.py):

    captions/epoch=N/  (image_id, caption)      one dir per micro-batch,
                                                id-shard-clustered: the
                                                verify stage fetches only
                                                candidate endpoints' row
                                                groups (pruned_caption_
                                                resolver), never the
                                                whole (fat) store
    reps/epoch=N/      (caption_sha, rep)       first-seen rep index delta
    bands/epoch=N/     (id, band, key)          LSH band index delta
    assign/epoch=N/    (image_id, cluster_id)   FULL snapshot; superseded
                                                epochs pruned after commit
    blooms/epoch=N/    (shard, bits, ...)       bloom over the rep and band
                                                keys; once pruning engages,
                                                ONE probe per batch over its
                                                sha and band keys picks the
                                                index shards to read

Every store follows the epoch-overwrite replay protocol of
streaming/state_store.py; ``assign`` and ``blooms`` are its snapshot
stores (latest prior snapshot retained as replay insurance).

A wave's cost is mostly the fixed latency of its Spark jobs, so its
independent steps run side by side (state_store.run_together):

- the ``captions`` write beside the bloom probe and the rep
  resolution (``plans/incremental.incremental_caption_resolve``): only
  the verify step reads the new captions epoch;
- once the resolved reps are checkpointed, the INDEX branch (the
  ``reps`` and ``bands`` deltas side by side, then the bloom refresh,
  which reads both) beside the CLUSTER branch (candidates, verify,
  connected components: ``incremental_caption_cluster``), which reads
  only index epochs below the batch.

The ``assign`` write, the rotation of the superseded snapshot and the
listing advance wait for both branches. Each write goes to its own
epoch dir and a replay rewrites them all, so the order in which they
commit does not matter. With the one-window candidate step, this
took a traced steady seed-7 perfbench wave from 67 Spark jobs to 48.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.bloom_dedup import DEFAULT_BITS_PER_SHARD, DEFAULT_K_HASHES
from ..operators.features import extract_features
from ..operators.lsh import check_caption_params
from ..plans.incremental import (
    incremental_caption_cluster,
    incremental_caption_resolve,
)
from ..schemas import IMAGES_SCHEMA
from .state_store import (
    BloomIndex,
    EpochCache,
    band_key,
    check_stream_params,
    epoch_path,
    hit_shards,
    id_shard,
    key_shard,
    latest_epoch,
    load_epochs,
    read_parquet_stream,
    read_shards,
    rotate,
    run_together,
    sha_key,
    start_batches,
    write_clustered,
)

CAPTIONS_SCHEMA = "image_id string, caption string"
REPS_SCHEMA = "caption_sha string, rep string"
BANDS_SCHEMA = "id string, band int, key long"
ASSIGN_SCHEMA = "image_id string, cluster_id string"
CAPTION_SHARDS = 32
STATE_SHARDS = 32
_SHARD = "__shard"


def pruned_caption_resolver(spark: SparkSession, caption_dirs: list[str]):
    """Resolver for incremental_caption_cluster's caption fetches: given
    the candidate pairs' endpoint ids, read ONLY their id-shards' row
    groups of the shard-clustered caption store (plus a semi-join
    refinement) — the captions table is the FAT store of this chain (payload text),
    and the endpoint set is candidate-sized, so this replaces two
    corpus-wide caption shuffles per micro-batch with a pruned fetch.
    Epochs written before the clustering column existed read as NULL
    shard and are never pruned (the legacy escape hatch, refined only
    by the semi-join). A batch with no candidates reads ZERO caption
    rows — the store is not touched at all."""

    def resolve(ids: DataFrame) -> DataFrame:
        shards = [
            r["s"]
            for r in ids.select(
                id_shard(F.col("image_id"), CAPTION_SHARDS).alias("s")
            )
            .distinct()
            .collect()
        ]
        if not shards or not caption_dirs:
            return spark.createDataFrame([], CAPTIONS_SCHEMA)
        return read_shards(
            spark, CAPTIONS_SCHEMA, caption_dirs, _SHARD, shards
        ).join(ids, "image_id", "left_semi")

    return resolve


def _index_keys(s: SparkSession, dirs: dict[str, list[str]]) -> DataFrame:
    """Bloom keys of the rep and band stores: their own columns ARE the
    keys, so no separate key store is needed."""
    return (
        s.read.schema(REPS_SCHEMA)
        .parquet(*dirs["reps"])
        .select(sha_key(F.col("caption_sha")).alias("key"))
        .unionByName(
            s.read.schema(BANDS_SCHEMA)
            .parquet(*dirs["bands"])
            .select(band_key(F.col("band"), F.col("key")).alias("key"))
        )
        .distinct()
    )


def load_assignments(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """The latest committed assignment snapshot (None before any batch)."""
    return load_epochs(
        spark, os.path.join(state_dir, "assign"), ASSIGN_SCHEMA, latest=True
    )


def stream_near_dup_clusters(
    spark: SparkSession,
    input_path: str,
    state_dir: str,
    checkpoint_dir: str,
    bucket_cap: int = 256,
    jaccard_threshold: float = 0.5,
    prune_min_state_bytes: int = 64 << 20,
    n_shards: int = STATE_SHARDS,
    bits_per_shard: int = DEFAULT_BITS_PER_SHARD,
    k_hashes: int = DEFAULT_K_HASHES,
):
    """Start the streaming near-dup clustering query.

    Bloom-probed, shard-pruned reads of the rep and band index stores
    engage once they reach ``prune_min_state_bytes`` on disk (0 engages
    from the first batch; ``1 << 60`` keeps full-frame state reads).
    When engaged, a batch makes ONE bloom probe over its own
    ``s:<caption_sha>`` and ``b:<band>:<key>`` keys and reads both
    index stores only at the hit shards — a batch of entirely novel
    captions reads ZERO index rows. The bloom snapshot
    (``blooms/epoch=N``, latest prior retained as replay insurance) is
    built at first engagement from the stores themselves and kept
    fresh every batch once it exists (state_store.BloomIndex).

    Bad parameters raise ValueError before the query starts:
    ``bucket_cap`` < 2, ``jaccard_threshold`` outside [0, 1], or an
    ``n_shards`` that is not a power of two <= 256.

    Returns the StreamingQuery; after it finishes read the
    current assignments with ``load_assignments(spark, state_dir)`` —
    NOT the bare root path: pruning retains the latest prior snapshot as
    replay insurance, so two epochs coexist on disk."""
    params = (n_shards, bits_per_shard, k_hashes)
    check_stream_params(*params)
    check_caption_params(bucket_cap, jaccard_threshold)
    captions_path = os.path.join(state_dir, "captions")
    reps_path = os.path.join(state_dir, "reps")
    bands_path = os.path.join(state_dir, "bands")
    assign_path = os.path.join(state_dir, "assign")
    cache = EpochCache(state_dir, "captions", "reps", "bands")
    bloom = BloomIndex(state_dir, params, prune_min_state_bytes)

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        dirs = cache.at(batch_id)
        reps_dirs, bands_dirs = dirs["reps"], dirs["bands"]
        bloom.at(batch_id, cache.nbytes("reps", "bands"))
        # verify joins captions for BOTH endpoints: prior epochs + this
        # one — fetched per candidate endpoint through the pruned
        # resolver, never as a corpus-wide join
        caption_dirs = dirs["captions"] + [epoch_path(captions_path, batch_id)]
        # the decode UDF runs once: the probe keys, the sha groups and
        # the caption-exact star edges all read this frame
        feats = extract_features(batch_df).persist()

        def resolve() -> tuple[dict, DataFrame | None]:
            # one probe covers both stores: every new rep is a batch
            # row, so the batch's sha and band keys are a superset of
            # what the run looks up (no flags: the stores are read whole)
            f = feats.filter(
                F.col("caption_sha").isNotNull() & F.col("bands").isNotNull()
            )
            flags = bloom.flags(
                f.select(sha_key(F.col("caption_sha")).alias("key")).unionByName(
                    f.select(F.posexplode("bands")).select(
                        band_key(F.col("pos"), F.col("col")).alias("key")
                    )
                )
            )
            hit = None if flags is None else hit_shards(flags)
            reps = (
                read_shards(s, REPS_SCHEMA, reps_dirs, _SHARD, hit)
                if reps_dirs
                else None
            )
            bands = (
                read_shards(s, BANDS_SCHEMA, bands_dirs, _SHARD, hit)
                if bands_dirs
                else None
            )
            return incremental_caption_resolve(feats, reps), bands

        def write_index(res: dict) -> None:
            # rep/band deltas are written key-shard-clustered so the
            # pruned reads above serve future batches with row-group
            # pruning; the refresh reads both new epochs
            run_together(
                s,
                lambda: write_clustered(
                    res["new_reps"], epoch_path(reps_path, batch_id), _SHARD,
                    key_shard(sha_key(F.col("caption_sha")), n_shards),
                ),
                lambda: write_clustered(
                    res["new_bands"], epoch_path(bands_path, batch_id), _SHARD,
                    key_shard(band_key(F.col("band"), F.col("key")), n_shards),
                ),
            )
            bloom.refresh(
                s, batch_id, {"reps": reps_dirs, "bands": bands_dirs},
                _index_keys,
            )

        try:
            # captions are written id-shard-clustered so the verify
            # stage's endpoint fetches prune row groups (pruned_caption_
            # resolver), its only reader: the write runs beside the
            # probe and the rep resolution
            _, (res, bands) = run_together(
                s,
                lambda: write_clustered(
                    batch_df.select("image_id", "caption"),
                    epoch_path(captions_path, batch_id),
                    _SHARD,
                    id_shard(F.col("image_id"), CAPTION_SHARDS),
                ),
                resolve,
            )
            prior_assign = latest_epoch(assign_path, batch_id)
            # once ``resolved`` is checkpointed, the index maintenance
            # (rep/band deltas, then the bloom refresh) depends on
            # nothing the clustering computes, and the clustering reads
            # only prior index epochs: the two branches run side by side
            _, assign = run_together(
                s,
                lambda: write_index(res),
                lambda: incremental_caption_cluster(
                    feats,
                    res["resolved"],
                    pruned_caption_resolver(s, caption_dirs),
                    bands,
                    s.read.schema(ASSIGN_SCHEMA).parquet(prior_assign)
                    if prior_assign
                    else None,
                    bucket_cap=bucket_cap,
                    jaccard_threshold=jaccard_threshold,
                ),
            )
        finally:
            feats.unpersist()
        assign.write.mode("overwrite").parquet(epoch_path(assign_path, batch_id))
        rotate(assign_path, batch_id)
        cache.advance(batch_id, "captions", "reps", "bands")

    return start_batches(
        read_parquet_stream(spark, input_path, IMAGES_SCHEMA),
        handle_batch,
        checkpoint_dir,
    )
