"""LSH candidate-pair generation: MinHash bands (captions) + multi-index
Hamming bands (phash), with explicit skew handling.

No reference analogue — the reference's only grouping key is the exact
content hash (DataControllerSimple.cs:252-285). This module generalizes
that to near-duplicates; its skew story is the generalization of the
reference's all-empty-files mega-group (Common/BlobInfo.cs:49-51):

1. **Exact pre-grouping**: rows with an identical caption (same
   ``caption_sha``) or identical ``phash_v`` are collapsed to one
   representative BEFORE banding, with linear star edges recording the
   collapsed clique. A 10^9-row hot caption ("photo") therefore contributes
   ONE representative to the LSH join instead of a quadratic mega-band —
   skew is removed at the source, not salted around. The fused chain
   (``combined_candidates``, and the pipeline's edges stage) takes both
   representative sets and both star families from the one key-group
   aggregate shared with the byte and pixel keys
   (operators/exact_dedup.key_groups); ``caption_representatives`` /
   ``phash_representatives`` are the single-family versions behind
   ``caption_candidates`` / ``phash_candidates``.
2. **Bucket caps**: any remaining band bucket larger than ``bucket_cap``
   emits star edges (member -> bucket-min) instead of all pairs, and the
   overflow is observable in the returned stats frame (capped, not silent —
   SURVEY.md §4 item 1).
3. AQE skew-join handles residual imbalance at runtime (session config).

Banding schemes (all JVM-side bit ops / array functions; the only Python
in the near-dup path is the signature UDF in operators/features.py):

- captions: ``BANDS x ROWS_PER_BAND`` MinHash banding; band keys are
  precomputed vectorized inside the minhash Arrow UDF
  (functions/minhash.band_keys_from_mins) and stored as ``bands``.
- phash: choose-2-of-4 16-bit blocks -> 6 composite 32-bit keys; the
  pigeonhole bound guarantees every pair within Hamming distance <= 2 shares
  at least one composite key. (At 10^12 rows, single 16-bit blocks would
  give ~n/2^16-sized buckets = quadratic blowup; composite 32-bit keys keep
  buckets ~n/2^32. Radius beyond 2 is covered by the exact-phash pre-group
  plus the verification threshold, and is configurable via single-block
  mode for small corpora.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .exact_dedup import key_groups


DEFAULT_BUCKET_CAP = 256


def ensure_min_parallelism(df: DataFrame) -> DataFrame:
    """Small-input guard for expensive Arrow-UDF stages.

    A single small parquet file plans ONE scan partition, which serializes
    the vectorized signature/sketch UDF on one core (measured: the whole
    text candidate chain at sf0.1 was one 5s UDF task while 31 cores sat
    idle). When the planned partition count is below the cluster's
    defaultParallelism, repartition up to it — the shuffle moves only the
    small input that caused the problem. At scale the input already has
    >= defaultParallelism splits and this is a no-op (no added shuffle,
    no coalesce of well-partitioned inputs)."""
    sc = df.sparkSession.sparkContext
    p = sc.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df


def pairs_from_buckets(
    banded: DataFrame,
    bucket_cap: int,
    id_col: str = "id",
    with_band_range: bool = False,
) -> DataFrame:
    """(id, band, key) -> candidate edges (src < dst).

    Buckets of size <= bucket_cap emit all C(n,2) pairs; larger buckets emit
    n-1 star edges to the bucket minimum plus a `capped=true` marker column
    so callers can log overflow.

    Plan shape (measured on 17M band rows): bucket stats come from a HASH
    aggregate — count/min per (band, key) — then join back to the band
    rows, instead of a count/min WINDOW, which would force a full sort of
    the band frame after the exchange. The stats frame is tiny (only
    multi-member buckets survive), so AQE turns the join into a broadcast
    and the band frame is never exchanged a second time.

    The joined bucket frame is localCheckpointed (lazily): it feeds
    THREE consumers (both sides of the pair self-join + the star branch),
    and without a cut Catalyst re-executes the whole upstream band DAG per
    consumer — measured 3x wall on the edges stage at 160k rows. On a
    cluster the equivalent is a persisted stage table (plans/pipeline.py
    checkpoints whole stages the same way)."""
    rows = banded.selectExpr(f"`{id_col}` AS id", "band", "key")
    stats = (
        rows.groupBy("band", "key")
        .agg(F.expr("count(1) AS n"), F.expr("min(id) AS mn"))
        .filter("n >= 2")
    )
    # the checkpoint guarantees b's subtree computes once for its three
    # consumers (the BlockManager's per-partition get-or-compute lock
    # dedupes concurrent pulls). Under AQE the call runs every shuffle
    # stage of b's subtree right here, as its own SQL execution;
    # eager=False only defers the final, shuffle-free stage to the first
    # consuming job. Measured at 320k rows / 4x2 executors (full edges
    # stage, warm): eager 16.2s, lazy 15.5s, no checkpoint at all 21.6s
    # (the 3 consumers recompute the band DAG).
    b = rows.join(stats, ["band", "key"]).localCheckpoint(eager=False)
    small = b.filter(f"n <= {int(bucket_cap)}").select("id", "band", "key")
    # SHUFFLE_HASH hint: the checkpointed bucket frame carries no size
    # stats, so Catalyst happily BROADCASTS tens of millions of band rows
    # (single-threaded driver hash-relation build — measured 40s flat at
    # any core count). A shuffled hash join on (band, key) partitions the
    # work and scales with the cluster; keys are near-unique so per-
    # partition hash maps stay small.
    a, c = small.alias("a"), small.hint("shuffle_hash").alias("b")
    p_small = (
        a.join(c, ["band", "key"])
        .where("a.id < b.id")
        .selectExpr("a.id AS src", "b.id AS dst", "false AS capped", "band")
    )
    p_big = b.filter(f"n > {int(bucket_cap)} AND id != mn").selectExpr(
        "mn AS src", "id AS dst", "true AS capped", "band"
    )
    aggs = [F.expr("max(capped) AS capped")]
    if with_band_range:
        # which band ids produced the pair — lets a caller that unioned
        # several banding FAMILIES into one frame (disjoint band-id
        # ranges, see combined_candidates) route each pair to its
        # family-specific verification without a per-family join chain
        aggs += [F.expr("min(band) AS min_band"), F.expr("max(band) AS max_band")]
    return (
        p_small.unionByName(p_big).groupBy("src", "dst").agg(*aggs)
    )


def cap_reference_buckets(
    rows: DataFrame, id_col: str, bucket_cap: int
) -> DataFrame:
    """The reference-side cap of every cross-side candidate join: band
    rows (band, key, <id_col>, ...) pass through, except that a bucket of
    more than ``bucket_cap`` rows keeps only its min-id row, so a hot
    reference bucket cannot multiply the batch side.

    The count is a fixed-width HashAggregate; the STRING min witness
    (a SortAggregate) runs only over the over-cap buckets, so nothing
    sorts the whole band frame. ``rows`` is cut lazily: three consumers."""
    rows = rows.localCheckpoint(eager=False)
    n = rows.groupBy("band", "key").agg(F.count(F.lit(1)).alias("n"))
    over_mn = (
        rows.join(
            n.filter(F.col("n") > bucket_cap).hint("shuffle_hash"),
            ["band", "key"],
        )
        .groupBy("band", "key")
        .agg(F.min(id_col).alias("_mn"))
    )
    return (
        rows.join(over_mn.hint("shuffle_hash"), ["band", "key"], "left")
        .filter(F.col("_mn").isNull() | (F.col(id_col) == F.col("_mn")))
        .drop("_mn")
    )


# --------------------------------------------------------------- captions


def caption_representatives(features: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Collapse identical normalized captions.

    Returns (reps, star_edges): reps = one row per distinct caption_sha with
    its precomputed LSH band keys; star_edges link collapsed members to the
    rep."""
    # caption_sha and bands are null under the SAME condition (caption has
    # zero tokens): shingles() falls back to the whole token join for
    # captions shorter than SHINGLE_K, so even one-token captions band.
    # The conjunction is belt-and-braces for features from other
    # producers, not a narrowing — no non-empty caption is excluded.
    f = features.filter(F.col("caption_sha").isNotNull() & F.col("bands").isNotNull())
    # HASH aggregate, not a window: a window would exchange AND SORT every
    # row together with its 32-long band array (measured ~5s per evaluation
    # at 640k rows); the aggregate gets map-side partial min/any_value
    # (identical captions carry identical bands, so any_value is exact) and
    # never sorts. The star join below ships only skinny columns.
    reps_map = (
        f.groupBy("caption_sha")
        .agg(F.min("image_id").alias("id"), F.any_value("bands").alias("bands"))
    )
    reps = reps_map.select("id", "bands")
    star = (
        f.select("image_id", "caption_sha")
        .join(reps_map.select("caption_sha", F.col("id").alias("rep")), "caption_sha")
        .filter(F.col("image_id") != F.col("rep"))
        .select(
            F.col("rep").alias("src"),
            F.col("image_id").alias("dst"),
            F.lit("caption_exact").alias("kind"),
        )
    )
    return reps, star


def caption_band_rows(reps: DataFrame) -> DataFrame:
    """Explode precomputed band keys into (id, band, key) rows.

    The keys were computed vectorized inside the minhash Arrow UDF
    (functions/minhash.band_keys_from_mins) — per-row JVM slice hashing
    here was measured at ~8s per evaluation on 17M band rows; the explode
    of a ready array is negligible."""
    return reps.selectExpr("id", "posexplode(bands) AS (band, key)")


def caption_candidates(features: DataFrame) -> tuple[DataFrame, DataFrame]:
    """-> (candidate rep pairs (src,dst,capped), caption_exact star edges),
    buckets capped at DEFAULT_BUCKET_CAP."""
    reps, star = caption_representatives(features)
    banded = caption_band_rows(reps)
    return pairs_from_buckets(banded, bucket_cap=DEFAULT_BUCKET_CAP), star


# ------------------------------------------------------------------ phash


def phash_representatives(features: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Collapse identical phash values (same trick as captions)."""
    f = features.filter(F.col("phash_v").isNotNull())
    reps_map = f.groupBy("phash_v").agg(F.min("image_id").alias("id"))
    reps = reps_map.select("id", F.col("phash_v").alias("phash"))
    star = (
        f.select("image_id", "phash_v")
        .join(reps_map.select("phash_v", F.col("id").alias("rep")), "phash_v")
        .filter(F.col("image_id") != F.col("rep"))
        .select(
            F.col("rep").alias("src"),
            F.col("image_id").alias("dst"),
            F.lit("phash_exact").alias("kind"),
        )
    )
    return reps, star


PHASH_BAND_MODES = ("c2x16", "b8x8")


def _block16(col: str, k: int) -> str:
    return f"(shiftright({col}, {16 * k}) & 65535)"


def phash_band_rows(
    reps: DataFrame, mode: str = "c2x16", band_offset: int = 0
) -> DataFrame:
    """(id, phash) -> (id, band, key) rows.

    mode 'c2x16': 6 composite keys from choose(4,2) 16-bit blocks — every
    pair with Hamming <= 2 collides on >= 1 key (scale-safe default).
    mode 'b8x8': 8 single 8-bit blocks — catches Hamming <= 7 but buckets
    are n/256 (small corpora only).

    band_offset shifts the band ids into a range disjoint from the
    caption MinHash bands so both families can share ONE banded frame
    (combined_candidates)."""
    # SQL strings: the entry array is one parser call on the JVM, not a
    # few hundred py4j round trips for Column calls
    if mode == "c2x16":
        combos = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
        entries = [
            f"named_struct('band', {band_offset + ci}, 'key', "
            f"{_block16('phash', i)} * 65536 + {_block16('phash', j)})"
            for ci, (i, j) in enumerate(combos)
        ]
    elif mode == "b8x8":
        entries = [
            f"named_struct('band', {band_offset + k}, 'key', "
            f"CAST(shiftright(phash, {8 * k}) & 255 AS BIGINT))"
            for k in range(8)
        ]
    else:
        raise ValueError(f"unknown phash band mode: {mode}")
    return reps.selectExpr(
        "id", f"explode(array({', '.join(entries)})) AS e"
    ).selectExpr("id", "e.band AS band", "e.key AS key")


def phash_candidates(
    features: DataFrame, mode: str = "c2x16"
) -> tuple[DataFrame, DataFrame]:
    """-> (candidate rep pairs, phash_exact star edges), buckets capped at
    DEFAULT_BUCKET_CAP."""
    reps, star = phash_representatives(features)
    banded = phash_band_rows(reps, mode)
    return pairs_from_buckets(banded, bucket_cap=DEFAULT_BUCKET_CAP), star


# --------------------------------------------------------- combined chain

# caption MinHash bands occupy ids [0, 64); phash bands start here
PHASH_BAND_OFFSET = 64


def rep_candidates(
    caption_reps: DataFrame,
    phash_reps: DataFrame,
    phash_mode: str = "c2x16",
    bucket_cap: int = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Both candidate families through ONE banding chain.

    Band rows of the caption MinHash family (band ids < 64) and the phash
    multi-index family (band ids >= PHASH_BAND_OFFSET) are unioned into a
    single (id, band, key) frame, so bucket stats, the bucket-frame
    materialization and the pair self-join each run ONCE over the combined
    rows instead of twice over half the rows. Per-family candidate
    semantics are unchanged — band-id ranges are disjoint, so a bucket
    never mixes families; a pair found by both families carries both
    flags. Halving the number of shuffle chains removes the fixed
    per-job/per-exchange costs that dominated the edges stage at small
    executor counts (BENCH/BASELINE.md) and removes the need to overlap
    two chains with driver-side threads.

    (caption reps (id, bands), phash reps (id, phash)) -> pairs with
    columns (src, dst, capped, from_caption, from_phash)."""
    banded = caption_band_rows(caption_reps).unionByName(
        phash_band_rows(phash_reps, phash_mode, band_offset=PHASH_BAND_OFFSET)
    )
    return pairs_from_buckets(
        banded, bucket_cap=bucket_cap, with_band_range=True
    ).selectExpr(
        "src",
        "dst",
        "capped",
        f"min_band < {PHASH_BAND_OFFSET} AS from_caption",
        f"max_band >= {PHASH_BAND_OFFSET} AS from_phash",
    )


def combined_candidates(
    features: DataFrame,
    phash_mode: str = "c2x16",
    bucket_cap: int = DEFAULT_BUCKET_CAP,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Both candidate families from features: the representatives come
    from the one key-group aggregate (exact_dedup.key_groups), the pairs
    from ``rep_candidates``.

    Returns (pairs, caption_star, phash_star) where pairs has columns
    (src, dst, capped, from_caption, from_phash)."""
    star, cap_reps, ph_reps = key_groups(features)
    pairs = rep_candidates(cap_reps, ph_reps, phash_mode, bucket_cap=bucket_cap)
    return (
        pairs,
        star.filter(F.col("kind") == "caption_exact"),
        star.filter(F.col("kind") == "phash_exact"),
    )
