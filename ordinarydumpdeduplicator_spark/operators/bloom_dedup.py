"""Bloom-filter-assisted incremental exact dedup.

The 10^12-scale ingest problem: each incoming batch must be checked
against *all previously ingested* content keys. A plain anti-join
shuffles the whole history every wave; the standard fix is a Bloom
filter over history keys — batch rows the filter rejects are *certainly
new* and skip the join entirely; only filter hits (true dups + an
``fpp`` sliver of false positives) pay the exact verification join. The
output is therefore EXACT (the driver oracle is the plain anti-join:
``oracle_sql()['incremental_new_docs']``); the bloom is purely a
work-avoidance device, the same role the reference's in-memory
``HashSet`` lookup plays per file (``DataControllerSimple.cs:43-75``)
— rebuilt here so no single machine ever holds the key set.

Scale shape — everything stays distributed:

- the bitmap is SHARDED by key hash: ``n_shards`` rows of
  ``bits_per_shard/8`` bytes each, built with one applyInPandas pass
  over history keys and persistable as a table — at 10^12 keys / 1% fpp
  the full bitmap is ~1.2 TB, far beyond a driver or a broadcast, but
  each shard is executor-sized and co-partitioned with its probes; the
  build parameters ride along as columns and are VALIDATED at probe
  time (a mismatched probe would silently emit duplicates as new);
- the probe COGROUPS batch keys with their shard's bitmap row — one
  shuffle of the (small) batch, never a per-row copy of bitmap bytes
  (a broadcast-join + scalar UDF would Arrow-copy the bitmap onto
  every row);
- every key is MD5-hashed exactly ONCE (one pandas pass computes
  shard + both double-hash bases; build and probe reuse the same
  columns), with bit positions by double hashing (Kirsch–Mitzenmacher
  2006) — the repo-standard mixing family
  (functions/text.shingle_hash64), process-stable, engine-stable.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_BITS_PER_SHARD = 1 << 20  # 128 KiB per shard row
DEFAULT_K_HASHES = 7

_PARAM_COLS = ("n_shards", "bits_per_shard", "k_hashes")


def _check_params(n_shards: int, bits_per_shard: int, k_hashes: int) -> None:
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    if bits_per_shard <= 0 or bits_per_shard % 8 != 0:
        raise ValueError(
            f"bits_per_shard must be a positive multiple of 8, got {bits_per_shard}"
        )
    if k_hashes <= 0:
        raise ValueError(f"k_hashes must be positive, got {k_hashes}")


def _h1h2(keys: Iterable[str]) -> tuple[np.ndarray, np.ndarray]:
    """Double-hash bases per key: (h1, h2) from the MD5 digest halves,
    h2 forced odd so the k probe positions cycle the whole bitmap."""
    h1 = np.empty(len(keys), dtype=np.uint64)
    h2 = np.empty(len(keys), dtype=np.uint64)
    for i, s in enumerate(keys):
        d = hashlib.md5(str(s).encode("utf-8")).digest()
        h1[i] = int.from_bytes(d[:8], "little")
        h2[i] = int.from_bytes(d[8:], "little") | 1
    return h1, h2


def _hash_cols(key: Column, n_shards: int) -> Column:
    """ONE hashing pass per key: struct(shard, h1, h2). Build and probe
    both consume these columns, so shard assignment cannot drift between
    them and no key is ever hashed twice. h1/h2 are stored as the int64
    bit patterns of the uint64 values (Spark has no unsigned type)."""

    @F.pandas_udf("shard int, h1 long, h2 long")
    def udf(s: pd.Series) -> pd.DataFrame:
        h1, h2 = _h1h2(s.tolist())
        return pd.DataFrame(
            {
                "shard": (h1 % np.uint64(n_shards)).astype(np.int32),
                "h1": h1.view(np.int64),
                "h2": h2.view(np.int64),
            },
            index=s.index,
        )

    return udf(key)


def _positions(
    h1: np.ndarray, h2: np.ndarray, bits: int, k: int
) -> np.ndarray:
    """(n, k) probe positions: (h1 + (i+1)*h2) mod bits."""
    steps = (np.arange(1, k + 1, dtype=np.uint64))[None, :]
    return ((h1[:, None] + steps * h2[:, None]) % np.uint64(bits)).astype(
        np.int64
    )


def _keyed(df: DataFrame, key_col: str, n_shards: int) -> DataFrame:
    return df.select(
        F.col(key_col).cast("string").alias("__key"),
        _hash_cols(F.col(key_col).cast("string"), n_shards).alias("__h"),
    ).select("__key", "__h.shard", "__h.h1", "__h.h2")


def bloom_shards(
    keys: DataFrame,
    key_col: str = "key",
    n_shards: int = 32,
    bits_per_shard: int = DEFAULT_BITS_PER_SHARD,
    k_hashes: int = DEFAULT_K_HASHES,
) -> DataFrame:
    """History keys -> one (shard, bits, <params>) bitmap row per shard.

    Persist the result (it is the ingest index); rebuild cost is one
    shuffle of history keys by shard. Size ``bits_per_shard * n_shards``
    to ~10 bits per expected key for ~1% fpp. The parameter columns let
    ``bloom_probe`` reject a probe configured differently from the
    build — a mismatch would otherwise emit duplicates as new."""
    _check_params(n_shards, bits_per_shard, k_hashes)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        h1 = pdf["h1"].to_numpy().view(np.uint64)
        h2 = pdf["h2"].to_numpy().view(np.uint64)
        bmp = np.zeros(bits_per_shard // 8, dtype=np.uint8)
        pos = _positions(h1, h2, bits_per_shard, k_hashes).ravel()
        np.bitwise_or.at(bmp, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0])],
                "bits": [bmp.tobytes()],
                "n_shards": [n_shards],
                "bits_per_shard": [bits_per_shard],
                "k_hashes": [k_hashes],
            }
        )

    return (
        _keyed(keys, key_col, n_shards)
        .groupBy("shard")
        .applyInPandas(
            build,
            "shard int, bits binary, n_shards int, bits_per_shard int, "
            "k_hashes int",
        )
    )


def _validate_blooms(
    blooms: DataFrame, n_shards: int, bits_per_shard: int, k_hashes: int
) -> None:
    """Fail LOUDLY when a persisted blooms table was built with different
    parameters than the probe is using (the silent failure mode: keys
    hash to shards with no bitmap row -> might_contain=False -> true
    duplicates bypass verification). The blooms frame is n_shards rows,
    so .first() is cheap."""
    if not set(_PARAM_COLS) <= set(blooms.columns):
        raise ValueError(
            "blooms table lacks parameter columns "
            f"{_PARAM_COLS} — rebuild it with bloom_shards()"
        )
    row = blooms.select(*_PARAM_COLS).first()
    if row is None:
        return  # empty history: every probe misses, which is correct
    got = (row["n_shards"], row["bits_per_shard"], row["k_hashes"])
    want = (n_shards, bits_per_shard, k_hashes)
    if got != want:
        raise ValueError(
            f"bloom parameter mismatch: table built with "
            f"(n_shards, bits_per_shard, k_hashes)={got}, probe uses {want}"
        )


def _probe_flags(
    batch: DataFrame,
    blooms: DataFrame,
    key_col: str,
    n_shards: int,
    bits_per_shard: int,
    k_hashes: int,
    validate: bool = True,
) -> DataFrame:
    """Distinct batch keys -> (key_col, shard, might_contain), via a
    cogroup on shard (the bitmap rows ride to their probes ONCE per
    shard, not per row). Batch payload columns never enter the Python
    worker. ``validate=False`` skips the persisted-table parameter check
    for blooms frames built inline with the same parameters — the check
    costs one execution of the (lazy) build plan."""
    _check_params(n_shards, bits_per_shard, k_hashes)
    if validate:
        _validate_blooms(blooms, n_shards, bits_per_shard, k_hashes)

    def probe(probes: pd.DataFrame, bmp_pdf: pd.DataFrame) -> pd.DataFrame:
        if probes.empty:
            return pd.DataFrame({"__key": pd.Series(dtype="object"),
                                 "shard": pd.Series(dtype="int32"),
                                 "might_contain": pd.Series(dtype="bool")})
        keys = probes["__key"].tolist()
        shards = probes["shard"].tolist()
        if bmp_pdf.empty:  # shard never seen in history
            return pd.DataFrame({"__key": keys, "shard": shards,
                                 "might_contain": [False] * len(keys)})
        # a shard may hold several bitmap rows (epoch deltas written
        # without bloom_merge): membership is their UNION — testing only
        # the first row would silently emit duplicates as new
        bmp = np.frombuffer(bmp_pdf["bits"].iloc[0], dtype=np.uint8)
        if len(bmp_pdf) > 1:
            bmp = np.bitwise_or.reduce(
                [np.frombuffer(b, dtype=np.uint8) for b in bmp_pdf["bits"]]
            )
        h1 = probes["h1"].to_numpy().view(np.uint64)
        h2 = probes["h2"].to_numpy().view(np.uint64)
        pos = _positions(h1, h2, bits_per_shard, k_hashes)
        hit = (
            (bmp[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
        ).all(axis=1)
        return pd.DataFrame(
            {"__key": keys, "shard": shards, "might_contain": hit}
        )

    probes = _keyed(batch.select(key_col).distinct(), key_col, n_shards)
    return (
        probes.groupBy("shard")
        .cogroup(blooms.groupBy("shard"))
        .applyInPandas(probe, "__key string, shard int, might_contain boolean")
        .withColumnRenamed("__key", key_col)
    )


def bloom_probe(
    batch: DataFrame,
    blooms: DataFrame,
    key_col: str,
    n_shards: int = 32,
    bits_per_shard: int = DEFAULT_BITS_PER_SHARD,
    k_hashes: int = DEFAULT_K_HASHES,
) -> DataFrame:
    """Batch + boolean ``might_contain`` column (see ``_probe_flags``).
    ``key_col`` must be string-typed (content hashes are)."""
    flags = _probe_flags(
        batch, blooms, key_col, n_shards, bits_per_shard, k_hashes
    ).drop("shard")
    return batch.join(flags, key_col, "left").fillna(
        {"might_contain": False}
    )


def incremental_new_docs(
    history: DataFrame,
    batch: DataFrame,
    key_col: str = "content_sha",
    n_shards: int = 32,
    bits_per_shard: int = DEFAULT_BITS_PER_SHARD,
    k_hashes: int = DEFAULT_K_HASHES,
    blooms: DataFrame | None = None,
    flags: DataFrame | None = None,
) -> DataFrame:
    """EXACT new-content extraction for one ingest wave: batch rows whose
    ``key_col`` does not occur in history. Bloom misses bypass the
    history join; hits are verified with a left-anti join whose probe
    side is only the hit sliver. Pass a persisted ``blooms`` table to
    skip the rebuild (the production shape) — its build parameters are
    validated against this call's (skipped for the inline build, whose
    parameters match by construction — the check would execute the lazy
    build plan a second time).

    The whole decision runs at KEY level (miss keys ∪ anti-joined hit
    keys, then one null-safe semi-join back to the batch payload). The
    naive formulation — flag the payload rows, filter, anti-join — gets
    REORDERED by Catalyst (PushLeftSemiLeftAntiThroughJoin pushes the
    anti-join below the flags join), silently sending the full batch to
    the history join; key-level structure leaves that rule nothing to
    push through (plan-gated in tests/test_plans.py).

    The flags sub-plan has two consumers (miss branch, hit branch) and
    Spark does not dedupe common subplans, so an
    inline-built flags frame is ``persist()``-ed: recompute-safe under
    executor loss (unlike a localCheckpoint) and shared across the
    branches, at the cost of a cached footprint of one boolean row per
    distinct batch key that lives until the plan is GC'd — bounded by
    the wave size, not history. Long-running callers that control action
    timing (streaming/ingest_dedup.py) instead pass their own persisted
    ``flags`` frame — one (``key_col``, ``might_contain``) row per
    distinct batch key — and unpersist it right after their writes."""
    if flags is None:
        if blooms is None:
            validate = False  # built right here: params match trivially
            blooms = bloom_shards(
                history.select(key_col),
                key_col=key_col,
                n_shards=n_shards,
                bits_per_shard=bits_per_shard,
                k_hashes=k_hashes,
            )
        else:
            validate = True
        flags = _probe_flags(
            batch, blooms, key_col, n_shards, bits_per_shard, k_hashes,
            validate=validate,
        ).persist()
    miss_keys = flags.filter(~F.col("might_contain")).select(key_col)
    hit_keys = flags.filter(F.col("might_contain")).select(key_col)
    verified_keys = hit_keys.join(
        history.select(key_col).distinct(), key_col, "left_anti"
    )
    new_keys = miss_keys.unionByName(verified_keys)
    # eqNullSafe: a NULL key (e.g. NULL text) has no history match by
    # SQL semantics, so it must stay "new" — a plain equi-semi-join
    # would drop it, diverging from the anti-join oracle
    return batch.alias("b").join(
        new_keys.alias("k"),
        F.col(f"b.{key_col}").eqNullSafe(F.col(f"k.{key_col}")),
        "left_semi",
    )


def bloom_merge(*tables: DataFrame) -> DataFrame:
    """Union bloom-shard tables into one index: bloom union IS bitwise OR
    of bitmaps, so merging a wave's delta into the main index never
    rebuilds history (the incremental-ingest maintenance step — cost is
    O(n_shards x bits_per_shard), independent of history size).

    All inputs must share build parameters (ORing bitmaps built with
    different geometry silently corrupts membership). Validation happens
    INSIDE the merge task, per shard group — an eager driver-side check
    would execute every input plan once just to read three constants,
    doubling the per-wave index-maintenance cost."""
    if not tables:
        raise ValueError("bloom_merge needs at least one shards table")
    from functools import reduce

    allr = reduce(lambda a, b: a.unionByName(b), tables)

    def or_group(pdf: pd.DataFrame) -> pd.DataFrame:
        for c in _PARAM_COLS:
            if pdf[c].nunique() > 1:
                raise ValueError(
                    f"bloom_merge: mismatched build parameters within "
                    f"shard {int(pdf['shard'].iloc[0])}: "
                    f"{c}={sorted(pdf[c].unique().tolist())}"
                )
        acc = np.frombuffer(pdf["bits"].iloc[0], dtype=np.uint8).copy()
        for b in pdf["bits"].iloc[1:]:
            acc |= np.frombuffer(b, dtype=np.uint8)
        out = pdf.iloc[[0]].copy()
        out["bits"] = [acc.tobytes()]
        return out

    return allr.groupBy("shard").applyInPandas(
        or_group,
        "shard int, bits binary, n_shards int, bits_per_shard int, "
        "k_hashes int",
    )
