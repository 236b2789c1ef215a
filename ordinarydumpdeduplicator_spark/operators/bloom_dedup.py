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

Scale shape — everything stays distributed, in built-in SQL (no Python
worker on any bloom path):

- the bitmap is SHARDED by key hash and stored as SPARSE WORD ROWS
  ``(shard, word, bits long, <params>)``: bit position ``p`` of a shard
  is bit ``p & 63`` of its word ``p >> 6``, and a word with no bit set
  has no row. No row is ever a whole shard bitmap, so a shard never has
  to fit one task; at 10^12 keys / 1% fpp the full bitmap is ~1.2 TB,
  spread over word rows like any other table. The build parameters
  ride along as columns: a merge of mismatched tables fails, and the
  streams check a snapshot's geometry before they probe it (a
  mismatched probe would silently emit duplicates as new);
- build, merge and probe are plain aggregations and an equi-join: the
  build explodes each key's k positions and ``bit_or``-s them per
  (shard, word); the merge is a union and the same ``bit_or``, so a
  built or merged table holds one row per (shard, word); the probe
  left-joins the batch keys' positions to those rows on (shard, word)
  and takes ``bool_and`` per key — the engine's own hash join, not a
  per-shard Python loop;
- every key's ``md5`` is split ONCE, by ``md5_split``: the shard is the
  first digest byte, the double-hash bases h1/h2 (Kirsch–Mitzenmacher
  2006) the little-endian low 32 bits of the two digest halves. With a
  power-of-two ``bits_per_shard`` those 32 bits are all a position
  needs. The key stores are clustered by the same shard column
  (streaming/state_store.KeyIndex), so the hash is written in one
  place.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_BITS_PER_SHARD = 1 << 20  # 128 KiB of bits per shard
DEFAULT_K_HASHES = 7

_PARAM_COLS = ("n_shards", "bits_per_shard", "k_hashes")


def _power_of_two(n: int, most: int) -> bool:
    return 0 < n <= most and n & (n - 1) == 0


def check_bloom_params(n_shards: int, bits_per_shard: int, k_hashes: int) -> None:
    """Reject a geometry no bloom can serve, at the API boundary: the
    shard is one digest byte mod ``n_shards``, and a position keeps the
    low bits of a 32-bit sum (``bits_per_shard`` is an int column)."""
    if not _power_of_two(n_shards, 256):
        raise ValueError(
            f"n_shards must be a power of two <= 256, got {n_shards}"
        )
    if not _power_of_two(bits_per_shard, 1 << 30):
        raise ValueError(
            f"bits_per_shard must be a power of two <= 2^30, got {bits_per_shard}"
        )
    if k_hashes <= 0:
        raise ValueError(f"k_hashes must be positive, got {k_hashes}")


def _le32(md5: str, first: int) -> str:
    """SQL: the little-endian uint32 of digest bytes ``first``..+3 of
    the md5 hex string ``md5``."""
    pairs = ", ".join(
        f"substring({md5}, {2 * b + 1}, 2)" for b in range(first + 3, first - 1, -1)
    )
    return f"CAST(conv(concat({pairs}), 16, 10) AS BIGINT)"


def md5_split(key: str, n_shards: int) -> tuple[str, str, str]:
    """SQL expressions (shard, h1, h2) of the string SQL expression
    ``key``: its md5 digest's first byte mod ``n_shards``, and the
    little-endian low 32 bits of each digest half, h2 forced odd so the
    k positions cycle the whole shard. NULL for a NULL key."""
    check_bloom_params(n_shards, 1, 1)
    m = f"md5(CAST({key} AS STRING))"
    return (
        f"CAST(conv(substring({m}, 1, 2), 16, 10) AS INT) % {n_shards}",
        _le32(m, 0),
        f"{_le32(m, 8)} | 1",
    )


def _positions(
    keys: DataFrame, key_col: str, n_shards: int, bits_per_shard: int, k_hashes: int
) -> DataFrame:
    """(key_col, shard, word, bit): one row per key and i in 1..k for
    position (h1 + i·h2) & (bits_per_shard - 1)."""
    key = f"`{key_col}`"
    shard, h1, h2 = md5_split(key, n_shards)
    # the explode gets its own projection: a column selected beside a
    # generator is evaluated once per generated row
    return keys.selectExpr(
        key, f"{shard} AS shard", f"{h1} AS h1", f"{h2} AS h2"
    ).selectExpr(
        key, "shard", "h1", "h2", f"explode(sequence(1, {k_hashes})) AS i"
    ).selectExpr(
        key, "shard", f"(h1 + i * h2) & {bits_per_shard - 1} AS p"
    ).selectExpr(
        key,
        "shard",
        "CAST(shiftright(p, 6) AS INT) AS word",
        "CAST(p & 63 AS INT) AS bit",
    )


def bloom_shards(
    keys: DataFrame,
    key_col: str = "key",
    n_shards: int = 32,
    bits_per_shard: int = DEFAULT_BITS_PER_SHARD,
    k_hashes: int = DEFAULT_K_HASHES,
) -> DataFrame:
    """History keys -> word rows (shard, word, bits, <params>), one per
    word with a bit set; NULL keys set no bit.

    Persist the result (it is the ingest index); rebuild cost is one
    shuffle of the keys' positions. Size ``bits_per_shard * n_shards``
    to ~10 bits per expected key for ~1% fpp. The parameter columns let
    ``bloom_merge`` and a snapshot's reader reject a table built with
    another geometry — a mismatch would otherwise emit duplicates as
    new."""
    check_bloom_params(n_shards, bits_per_shard, k_hashes)
    return (
        _positions(
            keys.filter(f"`{key_col}` IS NOT NULL"),
            key_col, n_shards, bits_per_shard, k_hashes,
        )
        .groupBy("shard", "word")
        .agg(F.expr("bit_or(shiftleft(1L, bit))").alias("bits"))
        .selectExpr(
            "shard",
            "word",
            "bits",
            f"{n_shards} AS n_shards",
            f"{bits_per_shard} AS bits_per_shard",
            f"{k_hashes} AS k_hashes",
        )
    )


def _probe_flags(
    batch: DataFrame,
    blooms: DataFrame,
    key_col: str,
    n_shards: int,
    bits_per_shard: int,
    k_hashes: int,
) -> DataFrame:
    """Distinct batch keys -> (key_col, shard, might_contain): a key's
    positions left-join the word rows of ``blooms`` — a ``bloom_shards``
    or ``bloom_merge`` table, one row per (shard, word) — and it might be
    contained iff every position's bit is set. A NULL key, or one whose
    word has no row, is a miss."""
    check_bloom_params(n_shards, bits_per_shard, k_hashes)
    return (
        _positions(
            batch.select(key_col).distinct(),
            key_col, n_shards, bits_per_shard, k_hashes,
        )
        .join(
            blooms.select("shard", "word", "bits"), ["shard", "word"], "left"
        )
        .groupBy(key_col, "shard")
        .agg(
            F.expr(
                "bool_and(coalesce((bits & shiftleft(1L, bit)) != 0, false))"
            ).alias("might_contain")
        )
    )


def incremental_new_docs(
    history: DataFrame,
    batch: DataFrame,
    key_col: str = "content_sha",
    n_shards: int = 32,
    bits_per_shard: int = DEFAULT_BITS_PER_SHARD,
    flags: DataFrame | None = None,
) -> DataFrame:
    """EXACT new-content extraction for one ingest wave: batch rows whose
    ``key_col`` does not occur in history. Bloom misses bypass the
    history join; hits are verified with a left-anti join whose probe
    side is only the hit sliver. The bloom is built here from
    ``history`` with DEFAULT_K_HASHES hashes, unless ``flags`` are
    passed (then ``n_shards`` and ``bits_per_shard`` go unused).

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
        geometry = (n_shards, bits_per_shard, DEFAULT_K_HASHES)
        blooms = bloom_shards(history.select(key_col), key_col, *geometry)
        flags = _probe_flags(batch, blooms, key_col, *geometry).persist()
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
    """Union bloom tables into one index: bloom union IS bitwise OR, so
    merging a wave's delta into the main index never rebuilds history
    (the incremental-ingest maintenance step — cost is the tables' word
    rows, independent of history size).

    All inputs must share build parameters (ORing words built with
    different geometry silently corrupts membership). Validation runs
    INSIDE the merge aggregation, per (shard, word), through
    ``raise_error`` — an eager driver-side check would execute every
    input plan once just to read three constants."""
    if not tables:
        raise ValueError("bloom_merge needs at least one shards table")
    mismatch = " OR ".join(f"min({c}) != max({c})" for c in _PARAM_COLS)
    seen = ", ".join(
        f"'{c}=[', min({c}), ', ', max({c}), ']'" for c in _PARAM_COLS
    )
    # the check rides in ``bits``, the one column no reader prunes
    return (
        reduce(DataFrame.unionByName, tables)
        .groupBy("shard", "word")
        .agg(
            F.expr(
                f"CASE WHEN {mismatch} THEN raise_error(concat("
                "'bloom_merge: mismatched build parameters within shard ', "
                f"shard, ': ', concat_ws(' ', {seen}))) ELSE bit_or(bits) END"
            ).alias("bits"),
            *(F.expr(f"min({c})").alias(c) for c in _PARAM_COLS),
        )
    )
