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
                                                (both key stores of the
                                                KEY_STORES declaration,
                                                key-shard-clustered)
    assign/epoch=N/    (image_id, cluster_id)   FULL snapshot; superseded
                                                epochs pruned after commit
    blooms/epoch=N/    (shard, word, bits, ...) bloom over the rep and band
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
  which keys the same two projections of the checkpoint instead of
  re-reading the epochs just written) beside the CLUSTER branch
  (candidates, verify, connected components:
  ``incremental_caption_cluster``), which reads only index epochs
  below the batch.

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

from ..operators.bloom_dedup import (
    DEFAULT_BITS_PER_SHARD,
    DEFAULT_K_HASHES,
    check_bloom_params,
)
from ..operators.features import extract_features
from ..plans.incremental import (
    incremental_caption_cluster,
    incremental_caption_resolve,
)
from ..schemas import IMAGES_SCHEMA
from .state_store import (
    EpochCache,
    KeyIndex,
    KeyStore,
    band_key,
    epoch_path,
    id_shard,
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
ASSIGN_SCHEMA = "image_id string, cluster_id string"
CAPTION_SHARDS = 32
STATE_SHARDS = 32
_SHARD = "__shard"
# the rep and band stores' own columns ARE their bloom keys, so no
# separate key store is needed
KEY_STORES = (
    KeyStore("reps", "caption_sha string, rep string", _SHARD,
             sha_key("caption_sha")),
    KeyStore("bands", "id string, band int, key long", _SHARD,
             band_key("band", "key")),
)
REPS, BANDS = KEY_STORES


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
    prune_min_state_bytes: int = 64 << 20,
    n_shards: int = STATE_SHARDS,
    bits_per_shard: int = DEFAULT_BITS_PER_SHARD,
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
    fresh every batch once it exists (state_store.KeyIndex).

    The near-dup settings are the batch pipeline's
    (``lsh.DEFAULT_BUCKET_CAP``, ``verify.JACCARD_THRESHOLD``). A
    bloom geometry ``check_bloom_params`` rejects raises ValueError
    before the query starts.

    Returns the StreamingQuery; after it finishes read the
    current assignments with ``load_assignments(spark, state_dir)`` —
    NOT the bare root path: pruning retains the latest prior snapshot as
    replay insurance, so two epochs coexist on disk."""
    params = (n_shards, bits_per_shard, DEFAULT_K_HASHES)
    check_bloom_params(*params)
    captions_path = os.path.join(state_dir, "captions")
    assign_path = os.path.join(state_dir, "assign")
    cache = EpochCache(state_dir, "captions", "reps", "bands")
    index = KeyIndex(state_dir, KEY_STORES, params, prune_min_state_bytes)

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        dirs = cache.at(batch_id)
        index.at(s, batch_id, dirs, cache.nbytes("reps", "bands"))
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
            # what the run looks up
            f = feats.filter("caption_sha IS NOT NULL AND bands IS NOT NULL")
            slices = f.selectExpr("posexplode(bands) AS (band, key)")
            index.probe(REPS.keys(f).unionByName(BANDS.keys(slices)))
            reps, bands = index.read("reps"), index.read("bands")
            return incremental_caption_resolve(feats, reps), bands

        def write_index(res: dict) -> None:
            run_together(
                s,
                lambda: index.write("reps", batch_id, res["new_reps"]),
                lambda: index.write("bands", batch_id, res["new_bands"]),
            )
            index.refresh(batch_id)

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
