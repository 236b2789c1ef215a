"""Streaming media-ingest dedup: a continuously arriving media corpus
(video / audio / any fingerprintable payload), each micro-batch verdicted
against everything already ingested — the media twin of
streaming/ingest_dedup.py (text), built on the modality-agnostic segment
core (operators/segment_dedup.py).

State layout (epoch-keyed like every other streaming state dir: each
write overwrites its own ``epoch=<batch_id>`` directory; loaders read
only committed epochs STRICTLY BELOW the current one, so a replayed
crashed batch heals its own partial state):

    fps/epoch=N/       fingerprint DELTAS — all members of batch-N NOVEL
                       clusters, re-keyed to their cluster canonical id
                       (the whole collapsed family's segment hashes back
                       the canonical, so a later upload that near-matches
                       only a non-canonical variant still resolves;
                       byte-identical members collapse to one row, and
                       already-indexed content adds nothing, so the index
                       grows with DISTINCT content, not ingest volume).
                       Rows carry an internal ``__ref_shard`` column
                       (pmod(xxhash64(id), n_shards)) and are written
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
                       row groups (the text ingest key-store shape).
    blooms/epoch=N/    FULL merged bloom snapshot over all index keys
                       after batch N; superseded snapshots pruned,
                       latest prior retained as replay insurance (the
                       text twin's protocol).
    verdicts/epoch=N/  one row per batch item:
                       (id, outcome, match_ref_id, match_frac,
                        batch_canonical_id)
    metrics/epoch=N/   per-batch accounting; invariant per batch:
                       n_in == n_no_hashes + n_ref_dup + n_batch_dup
                               + n_novel

Per batch: ONE decode pass (the modality's mapInPandas fingerprint
function — payload bytes never shuffle), then the index is probed the
way the text twin probes its key store: the batch's band-slice and sha
keys go through the sharded bloom (cogrouped Arrow probe); a miss-only
batch READS ZERO INDEX ROWS (no fps or keys scan at all); a hit batch
reads only the bloom-hit shards of the key store, resolves candidate
reference ids, and scans only those ids' ``__ref_shard`` row groups of
the fingerprint store. The pruned reference subset provably contains
every member of every band bucket the batch touches (a row holding a
hit key is, by construction of the key store, in a hit shard), so
bucket-cap counts, min-id witnesses, verification and therefore
VERDICTS are identical to a full-index scan — pinned by
tests/test_media_index_pruning.py. segment_novelty then runs against
that subset (cross-side-only banded candidates, reference buckets
capped to a min-id witness, codegen popcount verify), plus a
within-batch near-dup collapse over the segment core's three edge
families so intra-batch copies don't each claim novelty. Outcomes are
disjoint:

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

Within one stream run the committed-epoch listings and the loaded
bloom snapshot are CACHED across batches (the state below the current
epoch is append-only by construction, so after batch N commits, batch
N+1's listing is batch N's plus the epoch-N dirs) — the fixed
per-batch cost of re-listing and re-reading state does not grow with
the number of past batches. The cache is keyed by the expected next
batch id; a replayed or restarted batch misses it and re-lists from
disk, so the replay contract is untouched.

The reference's analogue is the one-at-a-time ``HashSet`` membership
check during a rescan (DataControllerSimple.cs) — this is that check for
content identity under re-encoding, made restartable and distributed.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.bloom_dedup import (
    DEFAULT_BITS_PER_SHARD,
    DEFAULT_K_HASHES,
    _keyed,
    _probe_flags,
    bloom_merge,
    bloom_shards,
)
from ..operators.connected_components import connected_components
from ..operators.segment_dedup import (
    segment_band_rows,
    segment_edges,
    segment_novelty,
)
from .near_dup import (
    BLOOMS_SCHEMA,
    _committed_epochs,
    _tree_bytes,
    compact_epoch_dirs,
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
KEYS_SCHEMA = "key string, shard int, ref_id string"
MEDIA_N_SHARDS = 32
_REF_SHARD = "__ref_shard"


def load_media_verdicts(
    spark: SparkSession, state_dir: str, id_col: str = "video_id"
) -> DataFrame | None:
    """All committed per-item verdicts across epochs."""
    epochs = _committed_epochs(os.path.join(state_dir, "verdicts"))
    if not epochs:
        return None
    return spark.read.schema(
        VERDICTS_SCHEMA.format(id_col=id_col)
    ).parquet(*[p for _, p in epochs])


def load_reference_fps(
    spark: SparkSession, state_dir: str, fp_schema: str
) -> DataFrame | None:
    """The deduplicated fingerprint index (union of committed deltas).
    The internal ``__ref_shard`` clustering column is invisible here —
    parquet columns absent from the requested schema are not read."""
    epochs = _committed_epochs(os.path.join(state_dir, "fps"))
    if not epochs:
        return None
    return spark.read.schema(fp_schema).parquet(*[p for _, p in epochs])


def load_media_metrics(
    spark: SparkSession, state_dir: str
) -> DataFrame | None:
    epochs = _committed_epochs(os.path.join(state_dir, "metrics"))
    if not epochs:
        return None
    return spark.read.schema(METRICS_SCHEMA).parquet(
        *[p for _, p in epochs]
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
    near_dup.compact_epoch_dirs (crash anywhere is healed by the
    loader); run it only while the stream is stopped — it is offline
    maintenance, like sinks.compact_stage. Returns the number of
    fingerprint epoch dirs merged (0 = nothing to do)."""
    merged = compact_epoch_dirs(
        spark,
        os.path.join(state_dir, "fps"),
        f"{fp_schema}, {_REF_SHARD} int",
        cluster_by=[_REF_SHARD],
    )
    compact_epoch_dirs(
        spark, os.path.join(state_dir, "keys"), KEYS_SCHEMA,
        cluster_by=["shard"],
    )
    return merged


def _probe_keys(
    fps: DataFrame, id_col: str, hashes_col: str, bands: int
) -> DataFrame:
    """(key, ref_id) probe/index keys of a fingerprint frame: one row
    per distinct LSH band slice (``b:<band>:<slice>``) and one per
    non-null byte hash (``s:<sha>``). These are exactly the equality
    keys through which a future batch can reach the row — a row sharing
    none of them with a batch can never become a candidate (band-join)
    nor a byte-exact match (sha-join)."""
    band_keys = segment_band_rows(
        fps, bands=bands, id_col=id_col, hashes_col=hashes_col
    ).select(
        F.concat_ws(":", F.lit("b"), F.col("band"), F.col("key")).alias(
            "key"
        ),
        F.col(id_col).alias("ref_id"),
    )
    sha_keys = fps.filter(F.col("file_sha").isNotNull()).select(
        F.concat(F.lit("s:"), F.col("file_sha")).alias("key"),
        F.col(id_col).alias("ref_id"),
    )
    return band_keys.unionByName(sha_keys).distinct()


def _with_shard(keys: DataFrame, n_shards: int) -> DataFrame:
    """Attach the bloom shard of each key (the same md5-derived shard
    the probe uses, so store clustering and probe pruning cannot
    drift) -> (key, shard, ref_id).

    For power-of-two shard counts <= 256 the shard is a pure JVM
    expression: the bloom's h1 is the little-endian int64 of the first
    md5 digest bytes, so h1 mod 2^k (k <= 8) depends only on the FIRST
    digest byte — the first two hex chars of md5(key). Pinned against
    the pandas hashing path in tests/test_media_index_pruning.py; other
    shard counts fall back to that path."""
    if n_shards <= 256 and (n_shards & (n_shards - 1)) == 0:
        return keys.select(
            "key",
            (
                F.conv(F.substring(F.md5("key"), 1, 2), 16, 10).cast(
                    "int"
                )
                % F.lit(n_shards)
            ).alias("shard"),
            "ref_id",
        )
    hashed = _keyed(
        keys.select("key").distinct(), "key", n_shards
    ).select(F.col("__key").alias("key"), "shard")
    return keys.join(hashed, "key").select("key", "shard", "ref_id")


def _latest_snapshot(base: str, below: int | None = None):
    epochs = _committed_epochs(base, below)
    return epochs[-1][1] if epochs else None


def _hit_candidates(
    spark: SparkSession,
    keys_dirs: list[str],
    flags: DataFrame,
    hit_shards: list[int],
    n_shards: int,
) -> DataFrame:
    """Candidate reference ids reachable from the bloom-hit probe keys:
    the key store is read under a ``shard IN (<hit shards>)`` literal —
    parquet row-group stats prune everything outside the hit shards
    (each delta is written shard-clustered for exactly this) — then
    equi-joined to the hit keys. Each id carries its fingerprint-store
    shard (pmod(xxhash64(id), n_shards), recomputed — never stored, so
    it cannot drift)."""
    store = (
        spark.read.schema(KEYS_SCHEMA)
        .parquet(*keys_dirs)
        .filter(F.col("shard").isin(hit_shards))
    )
    return (
        store.join(flags.filter("might_contain").select("key"), "key")
        .select("ref_id")
        .distinct()
        .withColumn(
            _REF_SHARD,
            F.pmod(F.xxhash64("ref_id"), F.lit(n_shards)).cast("int"),
        )
    )


def prune_reference_fps(
    spark: SparkSession,
    state_dir: str,
    batch_fps: DataFrame,
    fp_schema: str,
    id_col: str = "video_id",
    hashes_col: str = "frame_hashes",
    bands: int = 4,
    n_shards: int = MEDIA_N_SHARDS,
    bits_per_shard: int = DEFAULT_BITS_PER_SHARD,
    k_hashes: int = DEFAULT_K_HASHES,
    below: int | None = None,
    fps_dirs: list[str] | None = None,
    keys_dirs: list[str] | None = None,
    blooms_df: DataFrame | None = None,
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

    ``fps_dirs``/``keys_dirs``/``blooms_df`` let a caller that already
    holds the committed listings / loaded snapshot (the streaming
    cache) skip the re-list and re-read; ``below`` bounds the listing
    for replay safety when they are not provided. Returns the FULL
    index (legacy fallback) when no bloom snapshot exists yet."""
    if fps_dirs is None:
        fps_dirs = [
            p
            for _, p in _committed_epochs(
                os.path.join(state_dir, "fps"), below
            )
        ]
    if not fps_dirs:
        return None
    if blooms_df is None:
        snap = _latest_snapshot(os.path.join(state_dir, "blooms"), below)
        if snap is None:
            # legacy state (no probe index yet): full scan
            return spark.read.schema(fp_schema).parquet(*fps_dirs)
        blooms_df = spark.read.schema(BLOOMS_SCHEMA).parquet(snap)
    if keys_dirs is None:
        keys_dirs = [
            p
            for _, p in _committed_epochs(
                os.path.join(state_dir, "keys"), below
            )
        ]
    probes = _probe_keys(batch_fps, id_col, hashes_col, bands)
    # validate=True: the snapshot is a persisted table (a probe
    # configured differently from the build would silently emit
    # duplicates as novel); the check reads one row of a 32-row frame
    flags = _probe_flags(
        probes, blooms_df, "key", n_shards, bits_per_shard, k_hashes,
        validate=True,
    ).persist()
    try:
        hit_shards = [
            r.shard
            for r in flags.filter("might_contain")
            .select("shard")
            .distinct()
            .collect()
        ]
        if not hit_shards or not keys_dirs:
            return None  # miss-only batch: no index scan at all
        # eager localCheckpoint: the candidate id set is tiny (bounded
        # by index rows sharing a key with the batch) and feeds the
        # shard collect AND the semi-join below — without the cut,
        # every downstream action on the pruned ref would re-run the
        # whole bloom probe and key-store scan
        cands = _hit_candidates(
            spark, keys_dirs, flags, hit_shards, n_shards
        ).localCheckpoint(eager=True)
        ref_shards = [
            r[_REF_SHARD]
            for r in cands.select(_REF_SHARD).distinct().collect()
        ]
        if not ref_shards:
            return None  # bloom false positives only: nothing reachable
        # second literal predicate -> row-group pruning on the
        # id-shard-clustered fingerprint store; legacy epochs
        # written without the column read as NULL and are never
        # pruned (the isNull escape hatch), only refined by the
        # candidate semi-join
        return (
            spark.read.schema(f"{fp_schema}, {_REF_SHARD} int")
            .parquet(*fps_dirs)
            .filter(
                F.col(_REF_SHARD).isin(ref_shards)
                | F.col(_REF_SHARD).isNull()
            )
            .join(
                cands.select(F.col("ref_id").alias(id_col)),
                id_col,
                "left_semi",
            )
            .drop(_REF_SHARD)
        )
    finally:
        flags.unpersist()


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
    available_now: bool = True,
    bands: int = 4,
    max_hamming: int = 6,
    min_match_frac: float = 0.5,
    ref_bucket_cap: int = 1024,
    batch_bucket_cap: int = 64,
    max_files_per_trigger: int | None = None,
    prune_index: bool | None = None,
    prune_min_index_bytes: int = 64 << 20,
    n_shards: int = MEDIA_N_SHARDS,
    bits_per_shard: int = DEFAULT_BITS_PER_SHARD,
    k_hashes: int = DEFAULT_K_HASHES,
):
    """Start the streaming media-novelty query over a parquet payload
    stream (``id_col``, ``bytes``). ``fingerprint_fn`` maps the raw batch
    frame to the modality's fingerprint frame (video_fingerprints,
    audio_fingerprints, image_region_fingerprints — any producer of
    (id, status, file_sha, ..., <hashes_col>)).

    ``prune_index``: None (default) engages the bloom-probed index
    prune only once the fingerprint store exceeds
    ``prune_min_index_bytes`` on disk — below that a full scan is
    cheaper than the probe's fixed cost (measured: ~3 s/batch at a
    toy index), above it the probe cost is flat while the full scan
    grows with the index. True forces pruning (the tests' mode),
    False forces full scans. The probe-key/bloom index is maintained
    in every mode (and only on batches that actually index novel
    content), so the modes are freely interchangeable on one state
    dir. Returns the StreamingQuery; read results with
    load_media_verdicts / load_reference_fps / load_media_metrics."""
    fps_path = os.path.join(state_dir, "fps")
    keys_path = os.path.join(state_dir, "keys")
    blooms_path = os.path.join(state_dir, "blooms")
    verdicts_path = os.path.join(state_dir, "verdicts")
    metrics_path = os.path.join(state_dir, "metrics")
    # cross-batch cache: committed listings + loaded bloom snapshot for
    # the EXPECTED next batch id; anything else (restart, replay)
    # misses and re-lists from disk
    cache: dict = {"next": None}

    def _state_for(s: SparkSession, batch_id: int):
        if cache.get("next") == batch_id:
            return (
                cache["fps_dirs"],
                cache["keys_dirs"],
                cache["blooms_df"],
                cache["bloom_snap"],
                cache["fps_bytes"],
            )
        fps_dirs = [
            p for _, p in _committed_epochs(fps_path, batch_id)
        ]
        keys_dirs = [
            p for _, p in _committed_epochs(keys_path, batch_id)
        ]
        snap = _latest_snapshot(blooms_path, batch_id)
        blooms_df = (
            s.read.schema(BLOOMS_SCHEMA).parquet(snap).persist()
            if snap is not None
            else None
        )
        return fps_dirs, keys_dirs, blooms_df, snap, _tree_bytes(fps_dirs)

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        epoch = f"epoch={batch_id}"
        # ONE decode pass; the skinny fingerprint frame feeds novelty,
        # the edge families, and the delta write — persist it
        fps_b = fingerprint_fn(batch_df).persist()
        fps_dirs, keys_dirs, blooms_df, bloom_snap, fps_bytes = (
            _state_for(s, batch_id)
        )
        use_prune = (
            prune_index
            if prune_index is not None
            else fps_bytes >= prune_min_index_bytes
        )
        try:
            if use_prune:
                ref = prune_reference_fps(
                    s,
                    state_dir,
                    fps_b,
                    fp_schema,
                    id_col=id_col,
                    hashes_col=hashes_col,
                    bands=bands,
                    n_shards=n_shards,
                    bits_per_shard=bits_per_shard,
                    k_hashes=k_hashes,
                    below=batch_id,
                    fps_dirs=fps_dirs,
                    keys_dirs=keys_dirs,
                    blooms_df=blooms_df,
                )
            else:
                ref = (
                    s.read.schema(fp_schema).parquet(*fps_dirs)
                    if fps_dirs
                    else None
                )
            if ref is not None:
                near = segment_novelty(
                    fps_b,
                    ref,
                    id_col=id_col,
                    hashes_col=hashes_col,
                    bands=bands,
                    max_hamming=max_hamming,
                    min_match_frac=min_match_frac,
                    ref_bucket_cap=ref_bucket_cap,
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
                nov = (
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
                )
            else:
                nov = fps_b.select(
                    id_col,
                    F.lit(None).cast("string").alias("match_ref_id"),
                    F.lit(None).cast("double").alias("match_frac"),
                )
            # within-batch collapse: all three edge families over the
            # batch fingerprints, CC, canonical = string-min member
            edges = segment_edges(
                fps_b,
                id_col=id_col,
                hashes_col=hashes_col,
                prefix=prefix,
                bands=bands,
                max_hamming=max_hamming,
                min_match_frac=min_match_frac,
                bucket_cap=batch_bucket_cap,
            )
            assign = connected_components(
                edges.select("src", "dst")
            ).select(
                F.col("image_id").alias(id_col),
                F.col("cluster_id").alias("__cl"),
            )
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
            verdicts.write.mode("overwrite").parquet(
                os.path.join(verdicts_path, epoch)
            )
            written = s.read.schema(
                VERDICTS_SCHEMA.format(id_col=id_col)
            ).parquet(os.path.join(verdicts_path, epoch))
            counts = {
                r["outcome"]: r["n"]
                for r in written.groupBy("outcome")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            n_in = sum(counts.values())
            write_row_epoch(
                os.path.join(metrics_path, epoch),
                {
                    "batch_id": int(batch_id),
                    "n_in": int(n_in),
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
            migrate = bool(fps_dirs) and not keys_dirs
            if counts.get("novel", 0) == 0 and not migrate:
                # nothing to index: the fps/keys/bloom state is
                # byte-unchanged, so skip all three writes (epoch gaps
                # are fine — loaders list what exists, and a replayed
                # batch recomputes the same deterministic outcome).
                # The cache rolls forward with the state untouched.
                cache.update(
                    next=batch_id + 1,
                    fps_dirs=fps_dirs,
                    keys_dirs=keys_dirs,
                    blooms_df=blooms_df,
                    bloom_snap=bloom_snap,
                    fps_bytes=fps_bytes,
                )
                return
            # fingerprint delta: EVERY member of a novel cluster,
            # re-keyed to the cluster canonical id — so the index's
            # matching power covers the whole collapsed family (a future
            # upload near-matching only a non-canonical variant, e.g. a
            # trim closer to a dropped re-mux, still resolves to the
            # canonical) while match_ref_id keeps pointing at one id.
            # Byte-identical members collapse via the full-row distinct;
            # the index still grows with distinct CONTENT, not volume.
            novel_canon = written.filter(
                F.col("outcome") == "novel"
            ).select(F.col(id_col).alias("batch_canonical_id"))
            members = (
                written.join(novel_canon, "batch_canonical_id")
                .select(id_col, "batch_canonical_id")
            )
            (
                fps_b.join(members, id_col)
                .withColumn(id_col, F.col("batch_canonical_id"))
                .drop("batch_canonical_id")
                .dropDuplicates()
                .withColumn(
                    _REF_SHARD,
                    F.pmod(F.xxhash64(id_col), F.lit(n_shards)).cast(
                        "int"
                    ),
                )
                # clustered so future batches' IN-predicate prunes
                # row groups (directory-partition at real scale)
                .repartition(_REF_SHARD)
                .sortWithinPartitions(_REF_SHARD)
                .write.mode("overwrite")
                .parquet(os.path.join(fps_path, epoch))
            )
            fps_delta = s.read.schema(
                f"{fp_schema}, {_REF_SHARD} int"
            ).parquet(os.path.join(fps_path, epoch))
            # probe-key delta for the rows just indexed; when the state
            # predates the key store (legacy / migration), index the
            # WHOLE existing fingerprint store once so the next batch
            # can prune
            delta_keys = _probe_keys(
                fps_delta, id_col, hashes_col, bands
            )
            if migrate:
                legacy = s.read.schema(fp_schema).parquet(*fps_dirs)
                delta_keys = delta_keys.unionByName(
                    _probe_keys(legacy, id_col, hashes_col, bands)
                )
            _with_shard(delta_keys, n_shards).repartition(
                "shard"
            ).sortWithinPartitions("shard").write.mode(
                "overwrite"
            ).parquet(os.path.join(keys_path, epoch))
            # bloom maintenance is DEFERRED until pruning engages: the
            # snapshot is derivable from the key store, so an
            # auto-policy stream below the size threshold pays no bloom
            # jobs at all. Once a snapshot exists it is kept fresh
            # every indexing batch regardless of mode — a stale
            # snapshot would under-approximate the key set and emit
            # true duplicates as novel.
            new_snap, new_blooms_df = bloom_snap, blooms_df
            if use_prune or blooms_df is not None:
                if blooms_df is not None:
                    keys_written = s.read.schema(KEYS_SCHEMA).parquet(
                        os.path.join(keys_path, epoch)
                    )
                    merged = bloom_merge(
                        blooms_df,
                        bloom_shards(
                            keys_written.select("key").distinct(),
                            "key",
                            n_shards=n_shards,
                            bits_per_shard=bits_per_shard,
                            k_hashes=k_hashes,
                        ),
                    )
                else:
                    # first engagement: one pass over the WHOLE key
                    # store (this epoch included)
                    all_keys = s.read.schema(KEYS_SCHEMA).parquet(
                        *(keys_dirs + [os.path.join(keys_path, epoch)])
                    )
                    merged = bloom_shards(
                        all_keys.select("key").distinct(),
                        "key",
                        n_shards=n_shards,
                        bits_per_shard=bits_per_shard,
                        k_hashes=k_hashes,
                    )
                merged.write.mode("overwrite").parquet(
                    os.path.join(blooms_path, epoch)
                )
                # prune superseded bloom snapshots KEEPING the latest
                # prior one: the stream checkpoint may not have
                # committed this batch yet, and a replay must still
                # find a snapshot below it to resume from
                for _, p in _committed_epochs(blooms_path, batch_id)[:-1]:
                    shutil.rmtree(p, ignore_errors=True)
                if blooms_df is not None:
                    blooms_df.unpersist()
                new_snap = os.path.join(blooms_path, epoch)
                new_blooms_df = (
                    s.read.schema(BLOOMS_SCHEMA).parquet(new_snap).persist()
                )
            # roll the cross-batch cache forward: next batch's state is
            # this batch's plus the epoch dirs just committed
            new_fps_dir = os.path.join(fps_path, epoch)
            cache.update(
                next=batch_id + 1,
                fps_dirs=fps_dirs + [new_fps_dir],
                keys_dirs=keys_dirs + [os.path.join(keys_path, epoch)],
                blooms_df=new_blooms_df,
                bloom_snap=new_snap,
                fps_bytes=fps_bytes + _tree_bytes([new_fps_dir]),
            )
        finally:
            fps_b.unpersist()

    reader = spark.readStream.schema(input_schema).format("parquet")
    if max_files_per_trigger is not None:
        # bounded micro-batches even under availableNow — the per-batch
        # latency benchmark shape (one input file per batch)
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    reader = reader.load(input_path)
    writer = reader.writeStream.foreachBatch(handle_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
