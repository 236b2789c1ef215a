"""Streaming near-duplicate clustering (SURVEY.md §2.11 + O19).

``foreachBatch`` over the image stream, where each micro-batch runs the
fully incremental LSH (plans/incremental.incremental_caption_run): only
the batch pays feature extraction, its (rep-only) band rows are joined
against the append-only band index, and only components touched by new
edges re-cluster. The reference's analogue is the re-inspection loop —
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

Replay safety — EVERY write is keyed by the stream's epoch id and uses
mode("overwrite") on that epoch's own directory, so a crashed batch that
Structured Streaming replays (same epoch id) rewrites exactly its own
state and nothing else:

- a crash mid-write leaves a partial ``epoch=N`` dir; the loader only
  reads committed (``_SUCCESS``-marked) epochs STRICTLY BELOW the
  current epoch id, so partials of the replayed batch are invisible;
- a crash between the reps write and the bands write cannot strand the
  index: the replay overwrites both epoch dirs together (the old
  append-mode layout could permanently lose a batch's band rows);
- the assignment is a full snapshot per epoch; superseded snapshots are
  pruned only after the current epoch's snapshot is written, and the
  LATEST prior snapshot is always retained — a parquet-committed epoch
  is not yet checkpoint-committed, so a crash in that gap replays the
  batch and the replay must find the previous snapshot to resume from
  (steady state keeps two snapshots on disk).

The state dir and the stream checkpoint dir form one unit — restarting
with a fresh checkpoint against an existing state dir (or vice versa)
breaks the epoch alignment this protocol relies on.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.bloom_dedup import (
    DEFAULT_BITS_PER_SHARD,
    DEFAULT_K_HASHES,
    _check_params,
)
from ..operators.features import extract_features
from ..plans.incremental import incremental_caption_run
from .inspection import read_image_stream

CAPTIONS_SCHEMA = "image_id string, caption string"
REPS_SCHEMA = "caption_sha string, rep string"
BANDS_SCHEMA = "id string, band int, key long"
ASSIGN_SCHEMA = "image_id string, cluster_id string"
CAPTION_SHARDS = 32
_CAP_SHARD = "__shard"


def pruned_caption_resolver(spark: SparkSession, caption_dirs: list[str]):
    """Resolver for incremental_caption_run's caption fetches: given the
    candidate pairs' endpoint ids, read ONLY their id-shards' row groups
    of the shard-clustered caption store (plus a semi-join refinement) —
    the captions table is the FAT store of this chain (payload text),
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
                F.pmod(F.xxhash64("image_id"), F.lit(CAPTION_SHARDS))
                .cast("int")
                .alias("s")
            )
            .distinct()
            .collect()
        ]
        if not shards or not caption_dirs:
            return spark.createDataFrame([], CAPTIONS_SCHEMA)
        return (
            spark.read.schema(f"{CAPTIONS_SCHEMA}, {_CAP_SHARD} int")
            .parquet(*caption_dirs)
            .filter(
                F.col(_CAP_SHARD).isin(shards)
                | F.col(_CAP_SHARD).isNull()
            )
            .join(ids, "image_id", "left_semi")
            .select("image_id", "caption")
        )

    return resolve

_EPOCH_RE = re.compile(r"^epoch=(\d+)$")
_MANIFEST = "_COMPACT_MANIFEST"
_TMP_SUFFIX = ".compacting"
_PRE_SUFFIX = ".pre_compact"
_STATE_SHARD = "__shard"
STATE_SHARDS = 32
BLOOMS_SCHEMA = (
    "shard int, bits binary, n_shards int, bits_per_shard int, k_hashes int"
)


def _tree_bytes(dirs: list[str]) -> int:
    """Total on-disk bytes under the given dirs (pure os-stat walk) —
    the auto-prune policies' input."""
    total = 0
    for d in dirs:
        for root, _, files in os.walk(d):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    return total


def _check_n_shards(n_shards: int) -> None:
    if not (0 < n_shards <= 256 and n_shards & (n_shards - 1) == 0):
        raise ValueError(
            f"n_shards must be a power of two <= 256, got {n_shards}"
        )


def _shard_of(key, n_shards: int = STATE_SHARDS):
    """Bloom shard of a key column as a pure JVM expression: the
    bloom's h1 is the little-endian int64 of the md5 digest, so
    h1 mod 2^k (k <= 8) is the FIRST digest byte mod 2^k — the first
    two hex chars of md5(key). Byte-equal to bloom_dedup._keyed's
    pandas hashing (pinned by test_jvm_shard_expression_matches_bloom_
    hashing); only power-of-two counts <= 256 are supported here."""
    _check_n_shards(n_shards)
    return (
        F.conv(F.substring(F.md5(key), 1, 2), 16, 10).cast("int")
        % F.lit(n_shards)
    )


def _rep_key(sha):
    return F.concat(F.lit("s:"), sha)


def _band_key(band, key):
    return F.concat_ws(":", F.lit("b"), band, key)


def _hit_shards_for(probes: DataFrame, blooms_df: DataFrame,
                    n_shards: int, bits_per_shard: int,
                    k_hashes: int) -> list[int]:
    """Bloom-probe a one-column ``key`` frame, return the shards that
    saw at least one hit (empty = nothing probed can be in the index,
    bloom false negatives being impossible)."""
    from ..operators.bloom_dedup import _probe_flags

    flags = _probe_flags(
        probes, blooms_df, "key", n_shards, bits_per_shard, k_hashes,
        validate=False,
    )
    return [
        r.shard
        for r in flags.filter("might_contain")
        .select("shard")
        .distinct()
        .collect()
    ]


def _index_frame(spark: SparkSession, schema: str, dirs: list[str],
                 hit: list[int] | None) -> DataFrame | None:
    """An index store's epoch dirs as one frame: all of it when ``hit``
    is None, else only the bloom-hit shards' row groups (plus legacy
    NULL-shard rows) — and no read at all when nothing hit."""
    if not dirs:
        return None
    if hit is None:
        return spark.read.schema(schema).parquet(*dirs)
    if not hit:
        return spark.createDataFrame([], schema)
    return (
        spark.read.schema(f"{schema}, {_STATE_SHARD} int")
        .parquet(*dirs)
        .filter(F.col(_STATE_SHARD).isin(hit) | F.col(_STATE_SHARD).isNull())
        .drop(_STATE_SHARD)
    )


def write_row_epoch(path: str, row: dict) -> None:
    """Write a ONE-ROW epoch dir (per-batch accounting metrics) with
    pyarrow on the driver — no Spark job. Measured: the
    createDataFrame -> coalesce(1) -> write path costs ~3.5 s per
    micro-batch of pure scheduling for a single literal row, the
    single largest slice of the fixed per-batch streaming cost; this
    is a few milliseconds. Python ints map to int64, matching the
    loaders' ``long`` schemas; the dir is replaced wholesale
    (epoch-overwrite replay semantics) and ``_SUCCESS``-marked so
    ``_committed_epochs`` treats it exactly like a Spark-written
    epoch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table({k: [v] for k, v in row.items()}),
        os.path.join(path, "part-00000.parquet"),
    )
    with open(os.path.join(path, "_SUCCESS"), "w"):
        pass


def _finish_compaction_cleanup(base: str, lo: str) -> None:
    """Post-swap cleanup, driven by the manifest the swap left inside
    ``lo``: remove the merged-away epoch dirs, the ``.pre_compact``
    backup, then the manifest itself (the "compaction done" marker).
    Every step is idempotent, so a crash anywhere inside this function
    is healed by simply running it again."""
    man = os.path.join(lo, _MANIFEST)
    with open(man) as f:
        merged = json.load(f)["merged"]
    lo_name = os.path.basename(lo)
    for name in merged:
        if name != lo_name:
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)
    shutil.rmtree(lo + _PRE_SUFFIX, ignore_errors=True)
    os.remove(man)


def recover_compaction(base: str) -> None:
    """Heal any state a crashed ``compact_epoch_dirs`` left behind.
    Idempotent, pure os-ops (no Spark). The swap protocol's crash
    windows and their recoveries:

    - crash before ``rename(lo, pre)``: ``lo`` intact, a stray
      ``.compacting`` dir -> delete the stray;
    - crash between the two renames: ``lo`` missing, ``.pre_compact``
      holds the old data, ``.compacting`` holds the committed merge ->
      roll FORWARD (rename ``.compacting`` -> ``lo``) when its
      ``_SUCCESS`` exists, else roll BACK (rename ``.pre_compact`` ->
      ``lo``); either way the loader sees exactly one complete ``lo``;
    - crash during cleanup: ``lo`` is the merged data and still carries
      the manifest -> re-run the cleanup (delete merged-away epochs,
      the backup, the manifest).

    Every os-op tolerates a CONCURRENT healer having gotten there
    first (two loaders racing after a crash): a rename whose source
    vanished or whose destination appeared is that exact situation,
    and the post-condition it wanted already holds — skip and
    continue."""
    if not os.path.isdir(base):
        return
    for d in os.listdir(base):
        if not d.endswith(_PRE_SUFFIX):
            continue
        lo = os.path.join(base, d[: -len(_PRE_SUFFIX)])
        pre = os.path.join(base, d)
        tmp = lo + _TMP_SUFFIX
        if not os.path.isdir(lo):
            try:
                if os.path.isdir(tmp) and os.path.exists(
                    os.path.join(tmp, "_SUCCESS")
                ):
                    os.rename(tmp, lo)  # merge committed: roll forward
                else:
                    os.rename(pre, lo)  # merge incomplete: roll back
                    shutil.rmtree(tmp, ignore_errors=True)
            except OSError:
                if not os.path.isdir(lo):
                    raise  # not a concurrent heal: surface it
    for d in os.listdir(base):
        p = os.path.join(base, d)
        if d.endswith(_TMP_SUFFIX) or d.endswith(_PRE_SUFFIX):
            # lo exists in every remaining case (handled above), so any
            # leftover swap dir is junk from a pre-rename crash or an
            # interrupted cleanup
            shutil.rmtree(p, ignore_errors=True)
        elif _EPOCH_RE.match(d) and os.path.exists(
            os.path.join(p, _MANIFEST)
        ):
            try:
                _finish_compaction_cleanup(base, p)
            except FileNotFoundError:
                pass  # a concurrent healer finished the cleanup


def _committed_epochs(base: str, below: int | None = None) -> list[tuple[int, str]]:
    """(epoch, path) of committed epoch dirs, ascending; optionally only
    epochs strictly below ``below`` (excludes a replayed batch's partials).

    Only dirs whose name is exactly ``epoch=<int>`` count — a crashed
    compaction's ``epoch=N.compacting`` / ``epoch=N.pre_compact``
    leftovers must not brick the parse. When such leftovers (or an
    epoch still carrying a compaction manifest) are present the store
    may be mid-swap, so the loader HEALS it first via
    ``recover_compaction`` — reading around the leftovers could
    silently drop the merged rows (the old ``lo`` dir is absent in the
    between-renames window) or double-read them (cleanup window)."""
    if not os.path.isdir(base):
        return []
    names = os.listdir(base)
    if any(
        d.endswith(_TMP_SUFFIX) or d.endswith(_PRE_SUFFIX) for d in names
    ) or any(
        os.path.exists(os.path.join(base, d, _MANIFEST))
        for d in names
        if _EPOCH_RE.match(d)
    ):
        recover_compaction(base)
        names = os.listdir(base)
    out = []
    for d in names:
        m = _EPOCH_RE.match(d)
        if not m:
            continue
        e = int(m.group(1))
        if below is not None and e >= below:
            continue
        p = os.path.join(base, d)
        if os.path.exists(os.path.join(p, "_SUCCESS")):
            out.append((e, p))
    return sorted(out)


def compact_epoch_dirs(
    spark: SparkSession,
    base: str,
    schema: str,
    cluster_by: list[str] | None = None,
) -> int:
    """Merge all committed epoch DELTA dirs except the newest into the
    oldest — the small-files fix for any strictly-below epoch store
    (media fingerprint index, ingest key store): a month of
    micro-batches otherwise reads thousands of tiny parquet files per
    batch. The newest epoch stays untouched because it is the only one
    a crash-replayed batch may overwrite; merged rows land in the
    LOWEST epoch dir so every future batch id still loads them.
    Offline maintenance (run while the stream is stopped); swap is the
    compact_stage two-rename pattern, made crash-safe by a manifest:
    the merged dir carries a ``_COMPACT_MANIFEST`` listing the epoch
    dirs it absorbed (an underscore file, invisible to parquet
    readers), so a crash in ANY window — before the renames, between
    them, or mid-cleanup — is healed deterministically by
    ``recover_compaction`` (which both this function and the epoch
    loader invoke on entry). ``cluster_by`` re-clusters the
    merged rows (repartition + sortWithinPartitions) so a store whose
    per-epoch files were written clustered — e.g. the ingest key store,
    shard-clustered for IN-predicate row-group pruning — keeps that
    property through compaction. Returns epochs merged (0 = no-op;
    needs >= 3 committed epochs)."""
    recover_compaction(base)
    epochs = _committed_epochs(base)
    if len(epochs) <= 2:
        return 0
    merge = epochs[:-1]
    lo = merge[0][1]
    union = spark.read.schema(schema).parquet(*[p for _, p in merge])
    if cluster_by:
        union = union.repartition(*cluster_by).sortWithinPartitions(
            *cluster_by
        )
    tmp = lo + _TMP_SUFFIX
    shutil.rmtree(tmp, ignore_errors=True)
    union.write.mode("overwrite").parquet(tmp)
    with open(os.path.join(tmp, _MANIFEST), "w") as f:
        json.dump({"merged": [os.path.basename(p) for _, p in merge]}, f)
    pre = lo + _PRE_SUFFIX
    shutil.rmtree(pre, ignore_errors=True)
    os.rename(lo, pre)
    os.rename(tmp, lo)
    _finish_compaction_cleanup(base, lo)
    return len(merge)


def load_assignments(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """The latest committed assignment snapshot (None before any batch)."""
    epochs = _committed_epochs(os.path.join(state_dir, "assign"))
    if not epochs:
        return None
    return spark.read.schema(ASSIGN_SCHEMA).parquet(epochs[-1][1])


def stream_near_dup_clusters(
    spark: SparkSession,
    input_path: str,
    state_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    bucket_cap: int = 256,
    jaccard_threshold: float = 0.5,
    prune_state: bool | None = None,
    prune_min_state_bytes: int = 64 << 20,
    n_shards: int = STATE_SHARDS,
    bits_per_shard: int = DEFAULT_BITS_PER_SHARD,
    k_hashes: int = DEFAULT_K_HASHES,
):
    """Start the streaming near-dup clustering query.

    ``prune_state``: None (default) engages bloom-probed, shard-pruned
    reads of the rep and band index stores once they exceed
    ``prune_min_state_bytes`` on disk; True forces it, False forces
    full-frame state reads (the pre-pruning behavior, kept for parity
    testing). When engaged, a batch makes ONE bloom probe over its own
    ``s:<caption_sha>`` and ``b:<band>:<key>`` keys and reads both
    index stores only at the hit shards — a batch of entirely novel
    captions reads ZERO index rows. The bloom snapshot
    (``blooms/epoch=N``, latest prior retained as replay insurance) is
    built lazily at first engagement from the stores themselves (sha
    and band keys ARE the stores' own columns — no separate key store
    needed) and kept fresh every batch once it exists, in any mode.

    ``n_shards`` must be a power of two <= 256 (ValueError otherwise).

    Returns the StreamingQuery; after it finishes (availableNow) read the
    current assignments with ``load_assignments(spark, state_dir)`` —
    NOT the bare root path: pruning retains the latest prior snapshot as
    replay insurance, so two epochs coexist on disk."""
    _check_n_shards(n_shards)
    _check_params(n_shards, bits_per_shard, k_hashes)
    captions_path = os.path.join(state_dir, "captions")
    reps_path = os.path.join(state_dir, "reps")
    bands_path = os.path.join(state_dir, "bands")
    assign_path = os.path.join(state_dir, "assign")
    blooms_path = os.path.join(state_dir, "blooms")
    # cross-batch cache of committed-epoch listings + the bloom snapshot
    # path (append-only below the current epoch within a run; a
    # replay/restart misses the cache and re-lists from disk)
    cache: dict = {"next": None}

    def _state_for(batch_id: int):
        if cache.get("next") == batch_id:
            return (
                cache["cap"], cache["reps"], cache["bands"],
                cache["bloom_snap"], cache["state_bytes"],
            )
        cap = [p for _, p in _committed_epochs(captions_path, batch_id)]
        reps_dirs = [
            p for _, p in _committed_epochs(reps_path, batch_id)
        ]
        bands_dirs = [
            p for _, p in _committed_epochs(bands_path, batch_id)
        ]
        snaps = _committed_epochs(blooms_path, batch_id)
        return (
            cap, reps_dirs, bands_dirs, snaps[-1][1] if snaps else None,
            _tree_bytes(reps_dirs + bands_dirs),
        )

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.bloom_dedup import bloom_merge, bloom_shards

        s = batch_df.sparkSession
        epoch = f"epoch={batch_id}"
        cap_prior, reps_dirs, bands_dirs, bloom_snap, state_bytes = (
            _state_for(batch_id)
        )
        use_prune = (
            prune_state
            if prune_state is not None
            else state_bytes >= prune_min_state_bytes
        )
        # captions are written id-shard-clustered so the verify stage's
        # endpoint fetches prune row groups (pruned_caption_resolver)
        (
            batch_df.select("image_id", "caption")
            .withColumn(
                _CAP_SHARD,
                F.pmod(F.xxhash64("image_id"), F.lit(CAPTION_SHARDS))
                .cast("int"),
            )
            .repartition(_CAP_SHARD)
            .sortWithinPartitions(_CAP_SHARD)
            .write.mode("overwrite")
            .parquet(os.path.join(captions_path, epoch))
        )
        # verify joins captions for BOTH endpoints: prior epochs + this
        # one — fetched per candidate endpoint through the pruned
        # resolver, never as a corpus-wide join
        caption_dirs = cap_prior + [os.path.join(captions_path, epoch)]
        # the decode UDF runs once: the probe keys, the sha groups and
        # the caption-exact star edges all read this frame
        feats = extract_features(batch_df).persist()
        try:
            # index-pruned state reads only when engaged AND a snapshot
            # exists (first engagement on a legacy store full-scans once
            # while the snapshot is built below). One probe covers both
            # stores: every new rep is a batch row, so the batch's sha
            # and band keys are a superset of what the run looks up
            hit = None
            if use_prune and bloom_snap is not None and (
                reps_dirs or bands_dirs
            ):
                f = feats.filter(
                    F.col("caption_sha").isNotNull()
                    & F.col("bands").isNotNull()
                )
                probes = f.select(
                    _rep_key(F.col("caption_sha")).alias("key")
                ).unionByName(
                    f.select(F.posexplode("bands")).select(
                        _band_key(F.col("pos"), F.col("col")).alias("key")
                    )
                )
                hit = _hit_shards_for(
                    probes,
                    s.read.schema(BLOOMS_SCHEMA).parquet(bloom_snap),
                    n_shards, bits_per_shard, k_hashes,
                )

            reps = _index_frame(s, REPS_SCHEMA, reps_dirs, hit)
            bands = _index_frame(s, BANDS_SCHEMA, bands_dirs, hit)
            assign_epochs = _committed_epochs(assign_path, batch_id)
            assign = (
                s.read.schema(ASSIGN_SCHEMA).parquet(assign_epochs[-1][1])
                if assign_epochs
                else None
            )
            # each state component stands on its own: gating the whole
            # dict on one component would throw away a loadable
            # reps/bands index when another is missing (e.g. a snapshot
            # dir lost to storage issues) and re-emit duplicate
            # first-seen reps
            state = (
                dict(reps=reps, bands=bands, assign=assign)
                if any(x is not None for x in (reps, bands, assign))
                else None
            )
            out = incremental_caption_run(
                feats,
                None,
                state,
                bucket_cap=bucket_cap,
                jaccard_threshold=jaccard_threshold,
                captions_resolver=pruned_caption_resolver(s, caption_dirs),
            )
        finally:
            feats.unpersist()
        # outputs are localCheckpoint-materialized inside the run, so the
        # writes below cannot invalidate what they were computed from;
        # rep/band deltas are written key-shard-clustered so the pruned
        # reads above serve future batches with row-group pruning
        new_reps_dir = os.path.join(reps_path, epoch)
        new_bands_dir = os.path.join(bands_path, epoch)
        (
            out["new_reps"]
            .withColumn(
                _STATE_SHARD,
                _shard_of(_rep_key(F.col("caption_sha")), n_shards),
            )
            .repartition(_STATE_SHARD)
            .sortWithinPartitions(_STATE_SHARD)
            .write.mode("overwrite")
            .parquet(new_reps_dir)
        )
        (
            out["new_bands"]
            .withColumn(
                _STATE_SHARD,
                _shard_of(
                    _band_key(F.col("band"), F.col("key")), n_shards
                ),
            )
            .repartition(_STATE_SHARD)
            .sortWithinPartitions(_STATE_SHARD)
            .write.mode("overwrite")
            .parquet(new_bands_dir)
        )
        out["assign"].write.mode("overwrite").parquet(
            os.path.join(assign_path, epoch)
        )
        # bloom maintenance: deferred until pruning engages; once a
        # snapshot exists it is kept fresh every batch in every mode (a
        # stale snapshot would hide index rows from future probes). The
        # first engagement keys the WHOLE stores (their own columns ARE
        # the keys), later batches only this epoch's deltas
        new_snap = bloom_snap
        if use_prune or bloom_snap is not None:
            keys = (
                s.read.schema(REPS_SCHEMA)
                .parquet(*([] if bloom_snap else reps_dirs), new_reps_dir)
                .select(_rep_key(F.col("caption_sha")).alias("key"))
                .unionByName(
                    s.read.schema(BANDS_SCHEMA)
                    .parquet(
                        *([] if bloom_snap else bands_dirs), new_bands_dir
                    )
                    .select(
                        _band_key(F.col("band"), F.col("key")).alias("key")
                    )
                )
            )
            delta = bloom_shards(
                keys.distinct(),
                "key",
                n_shards=n_shards,
                bits_per_shard=bits_per_shard,
                k_hashes=k_hashes,
            )
            merged = (
                bloom_merge(
                    s.read.schema(BLOOMS_SCHEMA).parquet(bloom_snap), delta
                )
                if bloom_snap is not None
                else delta
            )
            new_snap = os.path.join(blooms_path, epoch)
            merged.write.mode("overwrite").parquet(new_snap)
            for _, p in _committed_epochs(blooms_path, batch_id)[:-1]:
                shutil.rmtree(p, ignore_errors=True)
        # prune superseded snapshots, KEEPING the latest one below this
        # epoch: "this epoch's parquet committed" is weaker than "the
        # stream checkpoint committed this batch" — if the process dies
        # in that gap, Structured Streaming replays batch_id and the
        # replay must still find a prior snapshot to resume from (with
        # none, it would re-run as a first batch and overwrite epoch=N
        # with only this batch's clusters, losing every prior
        # assignment). Steady state keeps exactly two snapshots.
        for _, p in assign_epochs[:-1]:
            shutil.rmtree(p, ignore_errors=True)
        cache.update(
            next=batch_id + 1,
            cap=caption_dirs,
            reps=reps_dirs + [new_reps_dir],
            bands=bands_dirs + [new_bands_dir],
            bloom_snap=new_snap,
            state_bytes=state_bytes
            + _tree_bytes([new_reps_dir, new_bands_dir]),
        )

    writer = (
        read_image_stream(spark, input_path)
        .writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
