"""Streaming media-ingest dedup: a continuously arriving media corpus
(video / audio / any fingerprintable payload), each micro-batch verdicted
against everything already ingested — the media twin of
streaming/ingest_dedup.py (text), built on the modality-agnostic segment
core (operators/segment_dedup.py).

State layout (epoch-keyed; every store follows the replay protocol of
streaming/state_store.py):

    fps/epoch=N/       fingerprint DELTAS — all members of batch-N NOVEL
                       clusters, re-keyed to their cluster canonical id
                       (the whole collapsed family's segment hashes back
                       the canonical, so a later upload that near-matches
                       only a non-canonical variant still resolves;
                       byte-identical members collapse to one row, and
                       already-indexed content adds nothing, so the index
                       grows with DISTINCT content, not ingest volume).
                       Rows carry an internal ``__ref_shard`` column
                       (the id shard, state_store.id_shard) and are written
                       clustered by it, so a batch's scan with a
                       ``__ref_shard IN (...)`` literal prunes row
                       groups; readers using the public fp_schema never
                       see the column.
    keys/epoch=N/      the PROBE KEYS those delta rows introduced:
                       one row per (key, ref_id) where key is
                       ``b:<band>:<slice>`` for every distinct LSH band
                       slice of the row's segment hashes and
                       ``s:<file_sha>`` for its byte hash — clustered by
                       the bloom shard of the key so a batch's
                       ``shard IN (<bloom-hit shards>)`` read prunes
                       row groups (the text ingest key-store shape; the
                       KEY_STORES declaration, state_store.KeyIndex).
    blooms/epoch=N/    FULL merged bloom snapshot over all index keys
                       after batch N, from the prune policy's first
                       engagement on (state_store.KeyIndex).
    verdicts/epoch=N/  one row per batch item:
                       (id, outcome, match_ref_id, match_frac,
                        batch_canonical_id)
    metrics/epoch=N/   per-batch accounting; invariant per batch:
                       n_in == n_no_hashes + n_ref_dup + n_batch_dup
                               + n_novel

Per batch: ONE decode pass (the modality's mapInPandas fingerprint
function — payload bytes never shuffle), materialized before anything
else reads it. Two independent branches then run side by side
(state_store.run_together), both over that frame. Both run built-in
expressions (the bloom probe included), so they do not contend for
Python workers:

- novelty, the batch against the index, checkpointed once. Once the
  prune policy engages, the index is probed the way the text twin
  probes its key store: the batch's band-slice and sha keys go through
  the sharded bloom (a built-in SQL join of their bit positions to
  the snapshot's word rows); a miss-only batch READS ZERO INDEX ROWS
  (no fps or keys scan at all); a hit batch reads only the bloom-hit
  shards of the key store, resolves candidate reference ids, and
  scans only those ids' ``__ref_shard`` row groups of the fingerprint
  store. The pruned reference subset provably contains
  every member of every band bucket the batch touches (a row holding
  a hit key is, by construction of the key store, in a hit shard), so
  bucket-cap counts, min-id witnesses, verification and therefore
  VERDICTS are identical to a full-index scan — pinned by
  tests/test_media_index_pruning.py. segment_novelty then runs against
  that subset (cross-side-only banded candidates, reference buckets
  capped to a min-id witness, codegen popcount verify), plus the
  byte-identity sha join;
- the within-batch near-dup collapse over the segment core's three
  edge families and connected components, so intra-batch copies don't
  each claim novelty.

The verdict write plans over the two materialized results, not their
chains. The outcome counts and the novel clusters' members are read
back from that verdict epoch on the driver (no Spark job). The fps
delta is built from those members and materialized once; it and its
probe-key delta are written side by side, and the bloom refresh
(which keys the cached probe-key delta, not the epoch just written)
and the listing advance run only after both. The segment-core
settings are the MEDIA_* module constants. Outcomes are disjoint:

    no_hashes   no fingerprintable evidence at all (NULL payload — the
                Broken sentinel, OrdinaryDumpDeduplicator.cs:119-125) —
                never deduplicable, passes through, like the text
                chain's NULL-key bucket. Undecodable-but-present
                payloads keep their file_sha and DO dedup byte-exactly
                (reference semantics: unparseable content still hashes)
    ref_dup     verified near/exact duplicate of indexed content
                (match_ref_id = smallest best-matching reference id;
                byte-identity via one sha equi-join, content identity
                via the banded segment chain)
    batch_dup   member of a within-batch duplicate cluster that is not
                its canonical, OR clustered with a ref_dup member (the
                whole cluster's content is then non-novel)
    novel       a cluster canonical with no reference match anywhere in
                its cluster; its fingerprint enters the index

Like all near-dup relations the within-batch closure is approximate
(non-transitive at the boundary): a trim-chain item that matches a
ref_dup batch member but not the reference directly is classified via
its CLUSTER (batch_dup), which is exactly what a full batch re-run of
segment_dedup_report would conclude.

The reference's analogue is the one-at-a-time ``HashSet`` membership
check during a rescan (DataControllerSimple.cs) — this is that check for
content identity under re-encoding, made restartable and distributed.
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
from ..operators.connected_components import connected_components
from ..operators.segment_dedup import (
    segment_band_rows,
    segment_edges,
    segment_novelty,
)
from .state_store import (
    EpochCache,
    KeyIndex,
    KeyStore,
    _committed_epochs,
    band_key,
    compact_epoch_dirs,
    compact_key_store,
    epoch_dirs,
    id_shard,
    load_epochs,
    read_parquet_stream,
    read_shards,
    run_together,
    sha_key,
    start_batches,
    write_clustered,
    write_row_epoch,
)

VERDICTS_SCHEMA = (
    "{id_col} string, outcome string, match_ref_id string, "
    "match_frac double, batch_canonical_id string"
)
METRICS_SCHEMA = (
    "batch_id long, n_in long, n_no_hashes long, n_ref_dup long, "
    "n_batch_dup long, n_novel long"
)
# the probe-key store: its ``key`` column is the bloom key
KEY_STORES = (KeyStore("keys", "key string, ref_id string", "shard", "key"),)
MEDIA_N_SHARDS = 32
# segment-core settings of the stream; the index's probe keys are cut
# with MEDIA_BANDS, so every reader of the index must use it too
MEDIA_BANDS = 4
MEDIA_MAX_HAMMING = 6
MEDIA_MIN_MATCH_FRAC = 0.5
MEDIA_REF_BUCKET_CAP = 1024
MEDIA_BATCH_BUCKET_CAP = 64
_REF_SHARD = "__ref_shard"


def load_media_verdicts(
    spark: SparkSession, state_dir: str, id_col: str = "video_id"
) -> DataFrame | None:
    """All committed per-item verdicts across epochs."""
    return load_epochs(
        spark,
        os.path.join(state_dir, "verdicts"),
        VERDICTS_SCHEMA.format(id_col=id_col),
    )


def load_reference_fps(
    spark: SparkSession, state_dir: str, fp_schema: str
) -> DataFrame | None:
    """The deduplicated fingerprint index (union of committed deltas).
    The internal ``__ref_shard`` clustering column is invisible here —
    parquet columns absent from the requested schema are not read."""
    return load_epochs(spark, os.path.join(state_dir, "fps"), fp_schema)


def load_media_metrics(
    spark: SparkSession, state_dir: str
) -> DataFrame | None:
    return load_epochs(
        spark, os.path.join(state_dir, "metrics"), METRICS_SCHEMA
    )


def compact_media_index(
    spark: SparkSession, state_dir: str, fp_schema: str
) -> int:
    """Merge the committed fingerprint DELTA epochs into the oldest
    epoch directory — the small-files fix for a long-running media
    ingest (every batch with novel content appends one epoch dir; a
    month of micro-batches reads thousands of tiny parquet files per
    batch, spending the wall on listings and footers, not data). The
    probe-key store is compacted alongside, preserving the shard
    clustering its IN-predicate row-group pruning relies on (same as
    the fingerprint store's ``__ref_shard`` clustering).

    The newest committed epoch is deliberately left untouched: it is
    the only epoch a crash-replayed batch may overwrite (stream
    checkpoints advance in order), so compaction never races a heal.
    Merged rows land in the LOWEST epoch directory, preserving the
    strictly-below loader contract for every future batch id. Deltas
    are disjoint by construction (each holds one batch's novel
    clusters), so the merge is a plain union — no dedup pass.

    Swap is the manifest-guarded two-rename pattern of
    state_store.compact_epoch_dirs (crash anywhere is healed by the
    loader); run it only while the stream is stopped — it is offline
    maintenance, like sinks.compact_stage. Returns the number of
    fingerprint epoch dirs merged (0 = nothing to do)."""
    merged = compact_epoch_dirs(
        spark,
        os.path.join(state_dir, "fps"),
        f"{fp_schema}, {_REF_SHARD} int",
        cluster_by=[_REF_SHARD],
    )
    compact_key_store(spark, state_dir, *KEY_STORES)
    return merged


def _probe_keys(fps: DataFrame, id_col: str, hashes_col: str) -> DataFrame:
    """(key, ref_id) probe/index keys of a fingerprint frame: one row
    per distinct LSH band slice (``b:<band>:<slice>``) and one per
    non-null byte hash (``s:<sha>``). These are exactly the equality
    keys through which a future batch can reach the row — a row sharing
    none of them with a batch can never become a candidate (band-join)
    nor a byte-exact match (sha-join)."""
    band_keys = segment_band_rows(
        fps, bands=MEDIA_BANDS, id_col=id_col, hashes_col=hashes_col
    ).select(
        F.expr(band_key("band", "key")).alias("key"),
        F.col(id_col).alias("ref_id"),
    )
    sha_keys = fps.filter(F.col("file_sha").isNotNull()).select(
        F.expr(sha_key("file_sha")).alias("key"),
        F.col(id_col).alias("ref_id"),
    )
    return band_keys.unionByName(sha_keys).distinct()


def _read_verdicts(path: str, id_col: str):
    """A verdict epoch's ids, outcomes and canonicals as a pandas frame,
    read with pyarrow on the driver (files named ``_*``/``.*``, the
    commit markers and checksums, are skipped)."""
    import pyarrow.parquet as pq

    return pq.read_table(
        path, columns=[id_col, "outcome", "batch_canonical_id"]
    ).to_pandas()


def _reference_fps(
    spark: SparkSession,
    batch_fps: DataFrame,
    fp_schema: str,
    fps_dirs: list[str],
    index: KeyIndex,
    id_col: str,
    hashes_col: str,
    n_shards: int,
) -> DataFrame | None:
    """``prune_reference_fps`` over a given fps listing and a started
    ``index``: None when nothing is indexed or no probe key hits the
    bloom, the full index when ``index`` gives no probe flags or a hit
    finds no key store (lost keys: the batch that rebuilds them), else
    the batch-pruned view."""
    if not fps_dirs:
        return None
    flags = index.probe(_probe_keys(batch_fps, id_col, hashes_col))
    if flags is None:
        return spark.read.schema(fp_schema).parquet(*fps_dirs)
    flags.persist()
    try:
        if not index.hits():
            return None  # miss-only batch: no index scan at all
        keys = index.read("keys")
        if keys is None:
            # lost key store: nothing maps a hit key to its ids, so
            # this (migration) batch reads the whole index
            return spark.read.schema(fp_schema).parquet(*fps_dirs)
        # eager localCheckpoint: the candidate id set is tiny (bounded
        # by index rows sharing a key with the batch) and feeds the
        # shard collect AND the semi-join below — without the cut,
        # every downstream action on the pruned ref would re-run the
        # whole bloom probe and key-store scan
        cands = (
            keys.join(flags.filter("might_contain").select("key"), "key")
            .select("ref_id")
            .distinct()
            .withColumn(_REF_SHARD, id_shard(F.col("ref_id"), n_shards))
            .localCheckpoint(eager=True)
        )
        ref_shards = [
            r[_REF_SHARD]
            for r in cands.select(_REF_SHARD).distinct().collect()
        ]
        if not ref_shards:
            return None  # bloom false positives only: nothing reachable
        # second literal predicate -> row-group pruning on the
        # id-shard-clustered fingerprint store, refined by the
        # candidate semi-join
        return read_shards(
            spark, fp_schema, fps_dirs, _REF_SHARD, ref_shards
        ).join(
            cands.select(F.col("ref_id").alias(id_col)), id_col, "left_semi"
        )
    finally:
        flags.unpersist()


def prune_reference_fps(
    spark: SparkSession,
    state_dir: str,
    batch_fps: DataFrame,
    fp_schema: str,
    id_col: str = "video_id",
    hashes_col: str = "frame_hashes",
    below: int | None = None,
) -> DataFrame | None:
    """The batch-pruned view of the reference fingerprint index: only
    rows reachable from this batch's probe keys. Returns None when the
    batch cannot match anything indexed — in that case ZERO index rows
    (fps or keys) are read.

    The subset is exact for dedup purposes: a reference row survives
    iff it shares at least one band-slice or sha key with the batch,
    and every member of every band bucket the batch touches survives
    (same (band,key) -> same probe key -> same bloom verdict -> same
    key-store shard), so downstream bucket-cap counts, min-id
    witnesses and verify results equal the full-scan path's.

    ``below`` bounds every listing to epochs strictly below it (a
    stream batch passes its own id). Without it the listings stop at
    the newest epoch whose probe keys committed: an fps epoch whose
    keys twin did not (a crash between the two writes) is not covered
    by the key store, so the prune could not see its rows. Returns
    the FULL index (legacy fallback) when no bloom snapshot exists
    yet. The bloom geometry is the stream's default; a snapshot built
    with another fails loudly."""
    if below is None:
        keys = _committed_epochs(os.path.join(state_dir, "keys"))
        below = keys[-1][0] + 1 if keys else None
    index = KeyIndex(
        state_dir,
        KEY_STORES,
        (MEDIA_N_SHARDS, DEFAULT_BITS_PER_SHARD, DEFAULT_K_HASHES),
    )
    keys_dirs = epoch_dirs(os.path.join(state_dir, "keys"), below)
    index.at(spark, below, {"keys": keys_dirs})
    return _reference_fps(
        spark,
        batch_fps,
        fp_schema,
        epoch_dirs(os.path.join(state_dir, "fps"), below),
        index,
        id_col,
        hashes_col,
        MEDIA_N_SHARDS,
    )


def stream_media_novelty(
    spark: SparkSession,
    input_path: str,
    state_dir: str,
    checkpoint_dir: str,
    fingerprint_fn,
    input_schema: str,
    fp_schema: str,
    id_col: str = "video_id",
    hashes_col: str = "frame_hashes",
    prefix: str = "frame",
    max_files_per_trigger: int | None = None,
    prune_min_index_bytes: int = 64 << 20,
    n_shards: int = MEDIA_N_SHARDS,
    bits_per_shard: int = DEFAULT_BITS_PER_SHARD,
):
    """Start the streaming media-novelty query over a parquet payload
    stream (``id_col``, ``bytes``). ``fingerprint_fn`` maps the raw batch
    frame to the modality's fingerprint frame (video_fingerprints,
    audio_fingerprints, image_region_fingerprints — any producer of
    (id, status, file_sha, ..., <hashes_col>)).

    The bloom-probed index prune engages once the fingerprint store
    reaches ``prune_min_index_bytes`` on disk — below that a full scan
    is cheaper than the probe's fixed cost (measured: ~3 s/batch at a
    toy index), above it the probe cost is flat while the full scan
    grows with the index. 0 engages from the first batch, ``1 << 60``
    keeps full scans. The probe-key store is maintained on every
    indexing batch and the bloom snapshot from first engagement on
    (state_store.KeyIndex), so a state dir can be resumed under any
    threshold. Returns the StreamingQuery; read results with
    load_media_verdicts / load_reference_fps / load_media_metrics."""
    params = (n_shards, bits_per_shard, DEFAULT_K_HASHES)
    check_bloom_params(*params)
    fps_path = os.path.join(state_dir, "fps")
    verdicts_path = os.path.join(state_dir, "verdicts")
    metrics_path = os.path.join(state_dir, "metrics")
    cache = EpochCache(state_dir, "fps", "keys")
    index = KeyIndex(state_dir, KEY_STORES, params, prune_min_index_bytes)

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        epoch = f"epoch={batch_id}"
        # ONE decode pass, materialized before the branches below fork:
        # the skinny fingerprint frame feeds the probe, novelty, the
        # edge families and the delta writes, and two branches must not
        # race to compute the same cached partitions
        fps_b = fingerprint_fn(batch_df).persist()
        dirs = cache.at(batch_id)
        index.at(s, batch_id, dirs, cache.nbytes("fps"))
        try:
            fps_b.count()

            def novelty() -> DataFrame:
                """The batch against the index, checkpointed so the
                verdict write plans over its result, not its chain."""
                ref = _reference_fps(
                    s, fps_b, fp_schema, dirs["fps"], index,
                    id_col, hashes_col, n_shards,
                )
                if ref is None:
                    return fps_b.select(
                        id_col,
                        F.lit(None).cast("string").alias("match_ref_id"),
                        F.lit(None).cast("double").alias("match_frac"),
                    )
                near = segment_novelty(
                    fps_b,
                    ref,
                    id_col=id_col,
                    hashes_col=hashes_col,
                    bands=MEDIA_BANDS,
                    max_hamming=MEDIA_MAX_HAMMING,
                    min_match_frac=MEDIA_MIN_MATCH_FRAC,
                    ref_bucket_cap=MEDIA_REF_BUCKET_CAP,
                ).select(id_col, "match_ref_id", "match_frac")
                # byte-identity path: an undecodable payload has no
                # hashes but byte-identical copies are REAL exact
                # duplicates (reference semantics — unparseable content
                # still has a hash); one equi-join on the sha covers
                # them, and for decodable content it agrees with the
                # near path (identical payloads decode to identical
                # hashes, match_frac 1.0)
                sha_match = (
                    fps_b.filter(F.col("file_sha").isNotNull())
                    .select(id_col, "file_sha")
                    .join(
                        ref.filter(F.col("file_sha").isNotNull())
                        .select(
                            F.col("file_sha"),
                            F.col(id_col).alias("__rid"),
                        ),
                        "file_sha",
                    )
                    .groupBy(id_col)
                    .agg(F.min("__rid").alias("__sha_ref"))
                )
                return (
                    near.join(sha_match, id_col, "left")
                    .select(
                        id_col,
                        F.coalesce("match_ref_id", "__sha_ref").alias(
                            "match_ref_id"
                        ),
                        F.when(
                            F.col("match_ref_id").isNull()
                            & F.col("__sha_ref").isNotNull(),
                            F.lit(1.0),
                        )
                        .otherwise(F.col("match_frac"))
                        .alias("match_frac"),
                    )
                    .localCheckpoint(eager=True)
                )

            def collapse() -> DataFrame:
                """The batch against itself: all three edge families
                over the batch fingerprints, CC (a driver-local frame
                below the union-find cutover), canonical = string-min
                member."""
                edges = segment_edges(
                    fps_b,
                    id_col=id_col,
                    hashes_col=hashes_col,
                    prefix=prefix,
                    bands=MEDIA_BANDS,
                    max_hamming=MEDIA_MAX_HAMMING,
                    min_match_frac=MEDIA_MIN_MATCH_FRAC,
                    bucket_cap=MEDIA_BATCH_BUCKET_CAP,
                )
                return connected_components(
                    edges.select("src", "dst")
                ).select(
                    F.col("image_id").alias(id_col),
                    F.col("cluster_id").alias("__cl"),
                )

            # independent branches: both read the materialized fps_b
            nov, assign = run_together(s, novelty, collapse)
            usable = fps_b.select(
                id_col,
                (
                    F.col(hashes_col).isNotNull()
                    | F.col("file_sha").isNotNull()
                ).alias("__has"),
            )
            per_item = (
                usable.join(nov, id_col, "left")
                .join(assign, id_col, "left")
                .withColumn("__cl", F.coalesce("__cl", F.col(id_col)))
            )
            # cluster-level rollup: any ref-matched member poisons the
            # whole cluster's novelty; the canonical is the min id
            cl = per_item.filter(F.col("__has")).groupBy("__cl").agg(
                F.min(id_col).alias("batch_canonical_id"),
                F.max(
                    F.col("match_ref_id").isNotNull().cast("int")
                ).alias("__any_ref"),
            )
            verdicts = (
                per_item.join(cl, "__cl", "left")
                .select(
                    id_col,
                    F.when(~F.col("__has"), F.lit("no_hashes"))
                    .when(
                        F.col("match_ref_id").isNotNull(), F.lit("ref_dup")
                    )
                    .when(
                        (F.col("__any_ref") == 1)
                        | (F.col(id_col) != F.col("batch_canonical_id")),
                        F.lit("batch_dup"),
                    )
                    .otherwise(F.lit("novel"))
                    .alias("outcome"),
                    "match_ref_id",
                    "match_frac",
                    F.when(F.col("__has"), F.col("batch_canonical_id"))
                    .alias("batch_canonical_id"),
                )
            )
            verdicts_dir = os.path.join(verdicts_path, epoch)
            verdicts.write.mode("overwrite").parquet(verdicts_dir)
            # the epoch just written, read on the driver (one row per
            # batch item): the outcome counts and the novel clusters'
            # members, with no Spark job
            written = _read_verdicts(verdicts_dir, id_col)
            counts = written["outcome"].value_counts()
            write_row_epoch(
                os.path.join(metrics_path, epoch),
                {
                    "batch_id": int(batch_id),
                    "n_in": len(written),
                    "n_no_hashes": int(counts.get("no_hashes", 0)),
                    "n_ref_dup": int(counts.get("ref_dup", 0)),
                    "n_batch_dup": int(counts.get("batch_dup", 0)),
                    "n_novel": int(counts.get("novel", 0)),
                },
            )
            # migration: a state whose fingerprint store predates the
            # probe-key store entirely (pre-pruning layout, or lost
            # keys) — rebuild the key store from the whole index once.
            # A non-empty key store always covers the fps store (fps
            # and keys epochs are written together, and migration
            # covers everything older).
            migrate = bool(dirs["fps"]) and not dirs["keys"]
            if counts.get("novel", 0) == 0 and not migrate:
                # nothing to index: the fps/keys/bloom state is
                # byte-unchanged, so skip all three writes (epoch gaps
                # are fine — loaders list what exists, and a replayed
                # batch recomputes the same deterministic outcome).
                cache.advance(batch_id)
                return
            # fingerprint delta: EVERY member of a novel cluster,
            # re-keyed to the cluster canonical id — so the index's
            # matching power covers the whole collapsed family (a future
            # upload near-matching only a non-canonical variant, e.g. a
            # trim closer to a dropped re-mux, still resolves to the
            # canonical) while match_ref_id keeps pointing at one id.
            # Byte-identical members collapse via the full-row distinct;
            # the index still grows with distinct CONTENT, not volume.
            novel = written[id_col][written["outcome"] == "novel"]
            members = s.createDataFrame(
                written.loc[
                    written["batch_canonical_id"].isin(novel),
                    [id_col, "batch_canonical_id"],
                ],
                f"{id_col} string, batch_canonical_id string",
            )
            delta = (
                fps_b.join(members, id_col)
                .withColumn(id_col, F.col("batch_canonical_id"))
                .drop("batch_canonical_id")
                .dropDuplicates()
                .persist()
            )
            # probe-key delta of exactly the rows indexed; when the
            # state predates the key store (legacy / migration), index
            # the WHOLE existing fingerprint store once so the next
            # batch can prune
            delta_keys = _probe_keys(delta, id_col, hashes_col)
            if migrate:
                legacy = s.read.schema(fp_schema).parquet(*dirs["fps"])
                delta_keys = delta_keys.unionByName(
                    _probe_keys(legacy, id_col, hashes_col)
                )
            # the two deltas are independent writes into their own
            # epoch dirs; the bloom refresh and the listing advance wait
            # for both. The fps delta is materialized before they fork,
            # so its join and dedup run once for both writes; the key
            # write caches its delta for the refresh, which would
            # otherwise re-run the delta's shuffles
            delta_keys.persist()
            try:
                delta.count()
                run_together(
                    s,
                    lambda: write_clustered(
                        delta,
                        os.path.join(fps_path, epoch),
                        _REF_SHARD,
                        id_shard(F.col(id_col), n_shards),
                    ),
                    lambda: index.write("keys", batch_id, delta_keys),
                )
                index.refresh(batch_id)
            finally:
                delta.unpersist()
                delta_keys.unpersist()
            cache.advance(batch_id, "fps", "keys")
        finally:
            fps_b.unpersist()

    return start_batches(
        read_parquet_stream(
            spark, input_path, input_schema, max_files_per_trigger
        ),
        handle_batch,
        checkpoint_dir,
    )
