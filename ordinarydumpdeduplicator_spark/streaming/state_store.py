"""Epoch-keyed parquet state shared by the stateful streams
(streaming/near_dup.py, media_ingest.py, ingest_dedup.py): epoch
listing and loading, crash-safe compaction, shard-clustered writes and
pruned reads, and the key index (``KeyIndex``): each stream declares
its key stores once (``KeyStore``), and the index alone writes, reads
and blooms them. Each stream's docstring describes its own store
layout.

Replay protocol — EVERY write is keyed by the stream's epoch id and
uses mode("overwrite") on that epoch's own directory
(``<store>/epoch=<batch_id>``), so a crashed batch that Structured
Streaming replays (same epoch id) rewrites exactly its own state and
nothing else:

- a crash mid-write leaves a partial ``epoch=N`` dir; loaders read only
  committed (``_SUCCESS``-marked) epochs STRICTLY BELOW the current
  epoch id, so partials of the replayed batch are invisible;
- a crash between two stores' writes cannot strand an index: the
  replay overwrites every epoch dir of the batch together;
- snapshot stores (bloom snapshots, the caption assignment) hold one
  FULL snapshot per epoch; superseded snapshots are deleted only after
  the current one is written, and the LATEST prior snapshot is always
  kept — a parquet-committed epoch is not yet checkpoint-committed, so
  a crash in that gap replays the batch and the replay must find the
  previous snapshot to resume from (steady state keeps two on disk).

The state dir and the stream checkpoint dir form one unit — restarting
with a fresh checkpoint against an existing state dir (or vice versa)
breaks the epoch alignment this protocol relies on.

Within one query the committed listings of the append-only stores are
cached across batches (``EpochCache``): the state below the current
epoch only grows by the dirs each batch writes, so the per-batch
listing cost does not grow with history. The cache is keyed by the
expected next batch id; a replayed or restarted batch misses it and
re-lists from disk, so the replay contract is untouched. Bloom
snapshots cross batches as a PATH, read where they are used — never a
persisted frame that could outlive its query; ``KeyIndex`` holds
their whole lifecycle (prune policy, probe, refresh and rotation).

Inside a batch, steps that do not depend on each other run side by side
through ``run_together``: a wave's cost is mostly the fixed latency of
its Spark jobs, not their rows, so two independent job chains take the
time of the longer one instead of the sum. Overlap is safe under the
replay protocol because every overlapped write still targets its own
epoch directory, which no step of the same batch reads (the bloom
refresh keys the delta frames the key-store writes were handed, not
the epochs they wrote), and ``rotate`` and ``EpochCache.advance`` run
only after every write of the batch has returned. Steps nest: a step
may call ``run_together`` itself.

Every stream query reads its source through ``read_parquet_stream``
and starts through ``start_batches`` (``foreachBatch``, checkpoint,
availableNow trigger): each start processes what has landed and stops,
the scheduled runs that offline compaction assumes.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from functools import reduce
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from ..operators.bloom_dedup import (
    _PARAM_COLS,
    _probe_flags,
    bloom_merge,
    bloom_shards,
    md5_split,
)

_EPOCH_RE = re.compile(r"^epoch=(\d+)$")
_MANIFEST = "_COMPACT_MANIFEST"
_TMP_SUFFIX = ".compacting"
_PRE_SUFFIX = ".pre_compact"
BLOOMS_SCHEMA = (
    "shard int, word int, bits long, n_shards int, bits_per_shard int, "
    "k_hashes int"
)


def epoch_path(base: str, batch_id: int) -> str:
    return os.path.join(base, f"epoch={batch_id}")


def read_parquet_stream(
    spark: SparkSession,
    path: str,
    schema: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of the parquet files under ``path`` (a stream
    source needs an explicit schema). ``max_files_per_trigger`` bounds
    each micro-batch, even under availableNow (bench.py's one file per
    batch)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def start_batches(
    stream: DataFrame,
    handle_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
):
    """Start ``handle_batch(batch_df, batch_id)`` over ``stream`` as an
    availableNow ``foreachBatch`` query checkpointed at
    ``checkpoint_dir``; returns the StreamingQuery."""
    return (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_together(spark: SparkSession, *steps: Callable[[], object]) -> list:
    """Run independent zero-argument steps side by side, one thread
    each, and return their results in call order. Each thread carries
    the caller's Spark local properties (in a stream, the query run id
    as ``spark.jobGroup.id``), so its jobs stay attributed to the wave.
    Waits for every step; if any raised, the first error in call order
    is re-raised after all have finished, so no step outlives the
    call. Meant for steps of built-in expressions or writes of
    materialized frames: steps that each run a Python UDF would
    contend for the same cores instead of overlapping latency. The
    bloom steps (``KeyIndex.probe`` and ``refresh``) are built-in SQL,
    so they do not contend with a Python step run beside them, such as
    the caption wave's verify."""
    with ThreadPoolExecutor(max_workers=len(steps)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(step))
            for step in steps
        ]
    return [f.result() for f in futures]


def _tree_bytes(dirs: list[str]) -> int:
    """Total on-disk bytes under the given dirs (pure os-stat walk) —
    the auto-prune policy's input."""
    total = 0
    for d in dirs:
        for root, _, files in os.walk(d):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    return total


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


def epoch_dirs(base: str, below: int | None = None) -> list[str]:
    """Paths of the committed epochs of ``base`` (strictly below
    ``below`` when given), ascending."""
    return [p for _, p in _committed_epochs(base, below)]


def latest_epoch(base: str, below: int | None = None) -> str | None:
    """The newest committed epoch of a snapshot store, or None."""
    dirs = epoch_dirs(base, below)
    return dirs[-1] if dirs else None


def load_epochs(
    spark: SparkSession, base: str, schema: str | None, latest: bool = False
) -> DataFrame | None:
    """Every committed epoch of a store as one frame (only the newest
    with ``latest``, for snapshot stores); None before the first
    commit. ``schema=None`` infers it from the files."""
    dirs = epoch_dirs(base)
    if not dirs:
        return None
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*(dirs[-1:] if latest else dirs))


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


def sha_key(sha: str) -> str:
    """SQL expression of the index key of a content-hash column,
    ``s:<sha>``. With ``band_key`` this is the one spelling of the keys
    that the blooms, the key-shard clustering and the key stores
    share."""
    return f"concat('s:', {sha})"


def band_key(band: str, key: str) -> str:
    """SQL expression of the index key of an LSH band slice,
    ``b:<band>:<key>``."""
    return f"concat_ws(':', 'b', {band}, {key})"


def id_shard(id_col: Column, n_shards: int) -> Column:
    """Shard of a row id (id-clustered stores: captions, media
    fingerprints) — recomputed from the id, never stored apart from
    the clustering column, so it cannot drift."""
    return F.pmod(F.xxhash64(id_col), F.lit(n_shards)).cast("int")


def write_clustered(
    df: DataFrame, path: str, shard_col: str, shard: Column
) -> None:
    """Overwrite ``path`` with ``df`` plus ``shard_col = shard``,
    clustered by it: each shard's rows are contiguous, so a read with a
    pushed ``shard_col IN (...)`` literal prunes row groups
    (directory-partition by shard at real scale)."""
    (
        df.withColumn(shard_col, shard)
        .repartition(shard_col)
        .sortWithinPartitions(shard_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def read_shards(
    spark: SparkSession,
    schema: str,
    dirs: list[str],
    shard_col: str,
    shards: list[int] | None,
) -> DataFrame:
    """A shard-clustered store's ``dirs`` as one ``schema`` frame: all
    of it when ``shards`` is None, else only those shards' row groups
    via a pushed IN literal — rows of epochs written before the
    clustering column existed read as NULL shard and are kept (the
    legacy escape hatch) — and no read at all when nothing is
    requested."""
    if not dirs or shards == []:
        return spark.createDataFrame([], schema)
    df = spark.read.schema(f"{schema}, {shard_col} int").parquet(*dirs)
    if shards is not None:
        df = df.filter(
            F.col(shard_col).isin(shards) | F.col(shard_col).isNull()
        )
    return df.drop(shard_col)


def _check_snapshot(path: str, params: tuple[int, int, int]) -> bool:
    """Whether the bloom snapshot at ``path`` is in word rows (False for
    the older one-bitmap-per-shard layout, which has no ``word``
    column); fails LOUDLY when it was built with other parameters than
    the probe's (keys would test positions the build never set, and
    true duplicates would read as new). Reads the parameter columns on
    the driver — no Spark job."""
    import pyarrow.dataset as pads

    snapshot = pads.dataset(path, format="parquet")
    if "word" not in snapshot.schema.names:
        return False
    cols = list(_PARAM_COLS)
    distinct = snapshot.to_table(columns=cols).group_by(cols).aggregate([])
    got = {tuple(r.values()) for r in distinct.to_pylist()}
    if got - {tuple(params)}:
        raise ValueError(
            f"bloom parameter mismatch: snapshot {path} built with "
            f"(n_shards, bits_per_shard, k_hashes)={sorted(got)}, "
            f"probe uses {tuple(params)}"
        )
    return True


def rotate(base: str, batch_id: int) -> None:
    """Delete every snapshot below ``batch_id`` except the newest one:
    the stream checkpoint may not have committed this batch yet, and a
    replay must still find a snapshot below it to resume from (with
    none, it would re-run as a first batch and lose all prior state)."""
    for p in epoch_dirs(base, batch_id)[:-1]:
        shutil.rmtree(p, ignore_errors=True)


class EpochCache:
    """One query's committed listings of its append-only stores, keyed
    by the expected next batch id (see the module docstring)."""

    def __init__(self, state_dir: str, *stores: str):
        self._paths = {s: os.path.join(state_dir, s) for s in stores}
        self._next: int | None = None
        self._dirs: dict[str, list[str]] = {}
        self._bytes: dict[str, int] = {}

    def at(self, batch_id: int) -> dict[str, list[str]]:
        """Committed dirs strictly below ``batch_id``, per store."""
        if self._next != batch_id:
            self._dirs = {
                s: epoch_dirs(p, batch_id) for s, p in self._paths.items()
            }
            self._bytes = {}
            self._next = batch_id
        return self._dirs

    def nbytes(self, *stores: str) -> int:
        """On-disk bytes of the listed stores' committed dirs."""
        for s in stores:
            if s not in self._bytes:
                self._bytes[s] = _tree_bytes(self._dirs[s])
        return sum(self._bytes[s] for s in stores)

    def advance(self, batch_id: int, *written: str) -> None:
        """Roll past a finished batch: its listing plus the epoch dirs
        it committed to the ``written`` stores."""
        for s in written:
            d = epoch_path(self._paths[s], batch_id)
            self._dirs[s] = self._dirs[s] + [d]
            if s in self._bytes:
                self._bytes[s] += _tree_bytes([d])
        self._next = batch_id + 1


class KeyStore(NamedTuple):
    """Declaration of one key store: its directory under the state dir,
    the columns of its rows, the column it is clustered by, and the SQL
    expression over those columns that gives a row's bloom key. The
    expression is the only spelling of the rule "a key store is
    clustered by the bloom shard of exactly the key the bloom holds":
    ``KeyIndex`` writes, reads and blooms the store through it."""

    name: str
    schema: str
    shard_col: str
    key: str

    def keys(self, rows: DataFrame) -> DataFrame:
        """Bloom keys of rows with this store's columns, column ``key``."""
        return rows.selectExpr(f"{self.key} AS key")


def compact_key_store(
    spark: SparkSession, state_dir: str, store: KeyStore
) -> int:
    """``compact_epoch_dirs`` for a key store, keeping its shard
    clustering (the pruned reads rely on it)."""
    return compact_epoch_dirs(
        spark,
        os.path.join(state_dir, store.name),
        f"{store.schema}, {store.shard_col} int",
        cluster_by=[store.shard_col],
    )


class KeyIndex:
    """One query's key stores and the bloom over their keys: the only
    code that writes or reads a key store, and owner of the snapshot
    store ``<state_dir>/blooms``, the prune policy, the probe and the
    refresh.

    The policy engages once the index reaches ``threshold`` bytes on
    disk; below it a full scan is cheaper than the probe's fixed cost
    (0 engages always). Bloom maintenance waits for the first
    engagement: the snapshot is derivable from the key stores, so a
    stream below the threshold pays no bloom jobs. Once a snapshot
    exists it is refreshed every batch whatever the policy says; a
    stale snapshot would hide index rows from later probes.

    Per batch: ``at``, at most one ``probe``, ``read`` of the stores at
    its hit shards, one ``write`` per key store, then ``refresh``."""

    def __init__(
        self,
        state_dir: str,
        stores: tuple[KeyStore, ...],
        params: tuple[int, int, int],
        threshold: int = 0,
    ):
        self._state_dir = state_dir
        self._stores = {st.name: st for st in stores}
        self._path = os.path.join(state_dir, "blooms")
        self._params = params
        self._threshold = threshold

    def at(
        self,
        spark: SparkSession,
        batch_id: int | None,
        listed: dict[str, list[str]],
        nbytes: int = 0,
    ) -> None:
        """Start a batch: ``listed`` holds each key store's committed
        dirs strictly below ``batch_id``; the snapshot is the latest one
        below it (the newest when None), and the policy rules on an
        index of ``nbytes`` bytes."""
        self._spark = spark
        self._dirs = {name: listed[name] for name in self._stores}
        snapshot = latest_epoch(self._path, batch_id)
        # a snapshot in the older bitmap layout counts as absent: this
        # batch reads whole stores and its refresh rebuilds the
        # snapshot from them, as after a lost ``blooms/``
        self._snapshot = (
            snapshot
            if snapshot and _check_snapshot(snapshot, self._params)
            else None
        )
        self._engaged = nbytes >= self._threshold
        self._flags: DataFrame | None = None
        self._hit: list[int] | None = None
        self._deltas: dict[str, DataFrame] = {}

    def probe(self, probes: DataFrame, key_col: str = "key") -> DataFrame | None:
        """The batch's one probe: flags (key_col, shard, might_contain)
        of the distinct ``key_col`` values of ``probes``, whose hit
        shards ``read`` then reads. None, meaning "read whole stores",
        unless the policy engaged and a snapshot exists."""
        if not self._engaged or self._snapshot is None:
            return None
        self._flags = _probe_flags(
            probes, self._blooms(), key_col, *self._params
        )
        return self._flags

    def _blooms(self) -> DataFrame:
        return self._spark.read.schema(BLOOMS_SCHEMA).parquet(self._snapshot)

    def hits(self) -> list[int] | None:
        """Shards where at least one probe key might be indexed (empty:
        nothing probed can be in the index, bloom false negatives being
        impossible); None without a probe."""
        if self._flags is not None and self._hit is None:
            self._hit = [
                r.shard
                for r in self._flags.filter("might_contain")
                .select("shard")
                .distinct()
                .collect()
            ]
        return self._hit

    def read(self, name: str) -> DataFrame | None:
        """Store ``name`` below the batch at the probe's hit shards (all
        of it without a probe); None when it has no committed epoch."""
        store, dirs = self._stores[name], self._dirs[name]
        if not dirs:
            return None
        return read_shards(
            self._spark, store.schema, dirs, store.shard_col, self.hits()
        )

    def write(self, name: str, batch_id: int, delta: DataFrame) -> None:
        """Write ``delta`` as the batch's epoch of store ``name``,
        clustered by the key shard of its declared key; ``refresh``
        blooms the keys of this frame."""
        store = self._stores[name]
        write_clustered(
            delta,
            epoch_path(os.path.join(self._state_dir, name), batch_id),
            store.shard_col,
            F.expr(md5_split(store.key, self._params[0])[0]),
        )
        self._deltas[name] = delta

    def refresh(self, batch_id: int) -> None:
        """After the batch's writes, write its snapshot and ``rotate``.
        The new keys are those of the frames handed to ``write``, so no
        epoch this batch wrote is listed or read back. At first
        engagement the prior stores' keys join them; after that they
        are OR-merged into the prior snapshot."""
        if self._snapshot is None and not self._engaged:
            return
        keys = [
            st.keys(self._deltas[n])
            for n, st in self._stores.items()
            if n in self._deltas
        ]
        if self._snapshot is None:
            keys += [
                st.keys(self._spark.read.schema(st.schema).parquet(*dirs))
                for st, dirs in zip(self._stores.values(), self._dirs.values())
                if dirs
            ]
        merged = bloom_shards(
            reduce(DataFrame.unionByName, keys), "key", *self._params
        )
        if self._snapshot is not None:
            merged = bloom_merge(self._blooms(), merged)
        # sorted word rows under zstd: below the bitmap layout's bytes
        # (snappy's word rows were ~40% above it on a 17k-key bloom)
        merged.sortWithinPartitions("shard", "word").write.mode(
            "overwrite"
        ).option("compression", "zstd").parquet(
            epoch_path(self._path, batch_id)
        )
        rotate(self._path, batch_id)
