"""Deterministic (hash-threshold) sampling for training-data pipelines.

Web-scale corpora need *reproducible* sampling — eval holdouts, ablation
subsets, per-language mixture rates — that is stable across runs, cluster
sizes and row order. Random `df.sample()` gives none of that (it is
partition-layout dependent). The standard fix is a hash rule: keep a row
iff ``hash(salt, key) < p * 2^bits``.

The hash here is the row key's lowercase-hex MD5 digest compared
*lexicographically* against a threshold literal: 32 hex chars are a
uniform draw over [0, 2^128), and `p * 2^128` rendered as 32 hex digits
is the cut. Both Spark (`F.md5`) and DuckDB (`md5`) emit lowercase hex,
so the exact same rule is expressible in both engines with **zero UDFs**
and no integer parsing — the driver's DuckDB oracle replays it verbatim
(see ``__spark_entry__.oracle_sql()['stratified_sample']``).

Scale shape: the predicate is a pure per-row filter — no shuffle, no
state, pushed past column pruning; at 10^12 rows it is a map-only scan.
MD5 is a mixing function here, not a security boundary (the same family
choice as functions/text.shingle_hash64).

Reference analogue: the reference has no sampler (it enumerates a local
tree exhaustively, `OrdinaryDumpDeduplicator/HierarchyAnalyzer.cs`); this
is one of the beyond-reference pipeline operators SURVEY §2.12 adds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokens_col

HEX_DIGITS = 32  # an md5 hex digest
DSIR_BUCKETS = 4096  # dsir_importance_weights' hashed n-gram buckets


def fraction_to_hex_threshold(fraction: float) -> str:
    """``fraction`` of the [0, 16^HEX_DIGITS) hash space as a
    lowercase-hex literal of exactly HEX_DIGITS chars. A lowercase-hex
    digest compares lexicographically below it iff its integer value <
    fraction * 16^HEX_DIGITS (hex chars order the same as their values;
    equal-length strings)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    cut = int(round(fraction * (1 << (4 * HEX_DIGITS))))
    if cut >= 1 << (4 * HEX_DIGITS):
        # p=1.0: 'g' sorts after 'f', so every hex digest compares below
        return "g"
    return format(cut, "x").rjust(HEX_DIGITS, "0")


def _salted_digest(key: Column, salt: str) -> Column:
    """The one salted-MD5 keying convention every sampler shares — the
    DuckDB oracles replay ``md5('<salt>:' || CAST(key AS VARCHAR))``
    verbatim, so the separator and cast live in exactly one place."""
    return F.md5(F.concat(F.lit(salt + ":"), key.cast("string")))


def sample_predicate(
    key: Column, fraction: float, salt: str = "sample"
) -> Column:
    """Boolean column: deterministic keep-decision for one fraction."""
    return _salted_digest(key, salt) < F.lit(
        fraction_to_hex_threshold(fraction)
    )


def deterministic_sample(
    df: DataFrame,
    fraction: float,
    key_col: str = "doc_id",
    salt: str = "sample",
) -> DataFrame:
    """Keep a reproducible ~``fraction`` of rows keyed by ``key_col``.

    Stable under repartitioning, row reordering and re-runs; disjoint
    salts give independent draws (holdout vs ablation subsets)."""
    return df.filter(sample_predicate(F.col(key_col), fraction, salt))


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "lang",
    key_col: str = "doc_id",
    salt: str = "sample",
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum hash sampling — the mixture-rebalancing primitive
    (e.g. downsample English to 10%, keep low-resource languages whole).

    One CASE over stratum thresholds, then one digest comparison: still a
    map-only per-row filter. Strata missing from ``rates`` fall back to
    ``default_rate`` (0.0 = drop)."""
    thr = F.lit(fraction_to_hex_threshold(default_rate))
    for stratum in sorted(rates):
        thr = F.when(
            F.col(stratum_col) == stratum,
            F.lit(fraction_to_hex_threshold(rates[stratum])),
        ).otherwise(thr)
    return df.filter(_salted_digest(F.col(key_col), salt) < thr)


def hash60(key: Column, salt: str) -> Column:
    """Uniform 60-bit integer draw from the key's MD5 (first 15 hex
    chars parsed base-16) — fits a BIGINT in both engines, and DuckDB
    parses the identical value via ('0x' || substr(md5,1,15))::BIGINT
    (parity pinned by the mixture_sample oracle)."""
    return F.conv(
        F.substring(_salted_digest(key, salt), 1, 15), 16, 10
    ).cast("long")


HASH60_SPACE = float(1 << 60)


def mixture_sample(
    df: DataFrame,
    targets: dict[str, float],
    stratum_col: str = "lang",
    key_col: str = "doc_id",
    salt: str = "mixr",
) -> DataFrame:
    """Rebalance the corpus to target stratum proportions by
    downsampling only (the data-mixing step: e.g. 40% en / 30% de /
    30% fr regardless of the raw crawl's skew).

    The output size is maximal for keep-only rebalancing: the binding
    stratum (largest count_s/share_s deficit) keeps 100% and every other
    stratum is thinned to match, via

        n_out  = min over strata of count_s / share_s
        rate_s = min(1, share_s * n_out / count_s)

    Strata absent from ``targets`` are dropped; a target stratum absent
    from the data simply cannot contribute (no upsampling). Rates are
    derived INSIDE the plan — one tiny per-stratum count aggregate, a
    global window over those few rows, then a broadcast join back — so
    the whole operator is lazy, deterministic, and SQL-oracle-checkable
    (identical IEEE double steps on both engines). The per-row keep rule
    is the same map-only hash-threshold as ``deterministic_sample``,
    with the threshold materialized as floor(rate * 2^60) compared
    against a 60-bit hash draw."""
    return df.join(
        F.broadcast(mixture_thresholds(df, targets, stratum_col)),
        stratum_col,
    ).filter(hash60(F.col(key_col), salt) < F.col("__thr")).drop("__thr")


def mixture_thresholds(
    df: DataFrame,
    targets: dict[str, float],
    stratum_col: str = "lang",
) -> DataFrame:
    """The per-stratum 60-bit keep thresholds behind ``mixture_sample``:
    (stratum, __thr) with one row per target stratum present in ``df``.
    Split out so composite plans (plans/curation.curation_funnel) can
    FLAG rows against the thresholds instead of filtering — same
    derivation, same broadcastable few-row output."""
    bad = {k: v for k, v in targets.items() if not 0.0 < v <= 1.0}
    if bad:
        raise ValueError(f"target shares must be in (0, 1]: {bad}")
    share = F.lit(None).cast("double")
    for stratum in sorted(targets):
        share = F.when(
            F.col(stratum_col) == stratum, F.lit(float(targets[stratum]))
        ).otherwise(share)
    counts = (
        df.groupBy(stratum_col)
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
        .withColumn("share", share)
        .filter(F.col("share").isNotNull())
    )
    # global window over n_strata rows (not data-sized) — the one place
    # a partition-less window is the right tool
    rates = counts.withColumn(
        "n_out",
        F.min(F.col("c") / F.col("share")).over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ),
    ).select(
        stratum_col,
        # the binding stratum is the row whose c/share IS the min — test
        # that bit-exactly (the min equals one of its inputs) and keep
        # it whole; share*(c/share)/c can round a 1-ulp hair below 1.0,
        # which floor() would turn into a real top-of-hash-space drop
        F.when(
            F.col("c") / F.col("share") == F.col("n_out"),
            F.lit(1 << 60).cast("long"),
        )
        .otherwise(
            F.floor(
                F.least(
                    F.lit(1.0),
                    F.col("share") * F.col("n_out") / F.col("c"),
                )
                * F.lit(HASH60_SPACE)
            ).cast("long")
        )
        .alias("__thr"),
    )
    return rates


def _hashed_ngrams(text: Column, n_buckets: int, salt: str) -> Column:
    """Array of hashed-n-gram bucket ids (unigrams + bigrams) for one
    document, entirely in JVM expressions.

    Tokenization is the repo-wide ``tokens_col`` convention (lowercase,
    whitespace split, empties dropped) — the same rule the tfidf oracle
    already pins to DuckDB's ``string_split_regex(lower(text), '\\s+')``.
    Bigrams come from a guarded ``transform(sequence(2, size(t)), ...)``
    (Spark's ``sequence(2, 1)`` would count DOWN, so size<2 short-circuits
    to an empty array). Each n-gram maps to a bucket via the 60-bit MD5
    draw (`hash60`) mod ``n_buckets`` — the exact integer DuckDB re-derives
    with ``('0x' || substr(md5(...), 1, 15))::BIGINT % n_buckets``."""
    t = tokens_col(text)
    grams = F.concat(
        t,
        F.when(
            F.size(t) >= 2,
            F.transform(
                F.sequence(F.lit(2), F.size(t)),
                lambda i: F.concat_ws(
                    " ", F.element_at(t, i - 1), F.element_at(t, i)
                ),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    return F.transform(grams, lambda g: hash60(g, salt) % n_buckets)


def dsir_importance_weights(
    docs: DataFrame,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "dsir",
    carry_cols: tuple[str, ...] = ("lang", "source"),
) -> DataFrame:
    """DSIR-style hashed-n-gram importance weights (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling").

    Fits two bag-of-hashed-n-gram unigram models — ``p`` over the rows
    where ``target`` is true (the corpus you want more of, e.g. a
    wiki-like subset) and ``q`` over the whole input — then scores every
    document with the log importance weight

        w(x) = sum over x's n-gram occurrences of  ln p[b] - ln q[b]
             = sum over buckets b of  n_b(x) * (ln p[b] - ln q[b])

    with add-one smoothing on both distributions. ``dsir_score`` is the
    length-normalized variant ``w / n_ngrams`` (mean per-n-gram
    log-ratio) — raw ``w`` scales with document length, so thresholding
    or resampling should use the score. Selection itself is deliberately
    NOT an output: a top-fraction rank is a global sort (non-starter at
    10^12 rows) — instead threshold the score, or compose with the
    hash-rule samplers above for a reproducible resample.

    Scale shape: the n-gram hashing is a map-only expression; the bucket
    histograms are two hash-aggregates whose OUTPUT is at most
    DSIR_BUCKETS rows (the p/q tables and their totals are tiny no
    matter the corpus size — the log-ratio table broadcast-joins back to
    the per-(doc, bucket) counts, never a collect). Per-doc weights are
    one more hash-agg keyed by doc. Nothing driver-side, no UDFs. At
    10^12 docs the only full-data shuffles are the (doc_id, bucket)
    count and the final per-doc sum — both partial-aggregated map-side.

    Float parity: the weight is a sum of (integer count × double
    log-ratio) terms; engines may sum in different orders, so the
    emitted ``dsir_logweight`` is rounded to 4 dp (error from ordering
    ~1e-11 at this magnitude; same policy as tfidf_keywords' round-6).

    Reference analogue: none (beyond-reference, SURVEY §2.12) — the
    reference selects nothing, it enumerates a filesystem exhaustively.
    """
    base = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        target.alias("__is_target"),
        F.explode(
            _hashed_ngrams(F.col(text_col), DSIR_BUCKETS, salt)
        ).alias("bucket"),
    )
    q = base.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("double").alias("qc")
    )
    p = base.where(F.col("__is_target")).groupBy("bucket").agg(
        F.count(F.lit(1)).cast("double").alias("pc")
    )
    # totals via an all-rows window over the <= DSIR_BUCKETS histogram rows
    # (never data-sized) — keeps the whole operator one lazy plan
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ratio = (
        q.join(p, "bucket", "left")
        .withColumn("qtot", F.sum("qc").over(w_all))
        .withColumn("ptot", F.sum(F.coalesce(F.col("pc"), F.lit(0.0))).over(w_all))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce(F.col("pc"), F.lit(0.0)) + F.lit(1.0))
                    / (F.col("ptot") + F.lit(float(DSIR_BUCKETS)))
                )
                - F.log(
                    (F.col("qc") + F.lit(1.0))
                    / (F.col("qtot") + F.lit(float(DSIR_BUCKETS)))
                )
            ).alias("lr"),
        )
    )
    # ORDER-CANONICAL per-doc sum: fold the (bucket, n*lr) terms in bucket
    # order instead of F.sum over shuffle-ordered rows. Shuffle arrival
    # order then cannot move the sum across a 4dp rounding boundary — the
    # weights are bit-deterministic and the DuckDB oracle mirrors the fold
    # with list_sum(list(term ORDER BY bucket)) (ADVICE r02: round-to-4dp
    # alone can still flip within half an ulp of a .00005 boundary).
    # A doc's term list is bounded by DSIR_BUCKETS entries, so the
    # collect_list buffer stays executor-sized at any corpus scale.
    doc_w = (
        base.groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
        .join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("long").alias("n_ngrams"),
            F.collect_list(
                F.struct(
                    F.col("bucket"),
                    (F.col("n") * F.col("lr")).alias("term"),
                )
            ).alias("__terms"),
        )
        .select(
            "doc_id",
            "n_ngrams",
            F.round(
                F.aggregate(
                    F.array_sort("__terms"),
                    F.lit(0.0),
                    lambda acc, x: acc + x["term"],
                ),
                4,
            ).alias("dsir_logweight"),
            F.round(
                F.aggregate(
                    F.array_sort("__terms"),
                    F.lit(0.0),
                    lambda acc, x: acc + x["term"],
                )
                / F.col("n_ngrams").cast("double"),
                6,
            ).alias("dsir_score"),
        )
    )
    out_cols = [F.col(id_col).alias("doc_id")] + [
        F.col(c) for c in carry_cols
    ]
    return (
        docs.select(*out_cols)
        .join(doc_w, "doc_id", "left")
        .select(
            "doc_id",
            *carry_cols,
            F.coalesce(F.col("n_ngrams"), F.lit(0)).cast("long").alias(
                "n_ngrams"
            ),
            F.coalesce(F.col("dsir_logweight"), F.lit(0.0)).alias(
                "dsir_logweight"
            ),
            F.coalesce(F.col("dsir_score"), F.lit(0.0)).alias(
                "dsir_score"
            ),
        )
    )


def training_order(
    df: DataFrame,
    n_shards: int = 1024,
    salt: str = "order",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global shuffle + shard/position assignment for
    training-data writing.

    Every document gets a pseudo-random but fully reproducible
    ``(shard, pos)``: shard = 60-bit salted MD5 draw mod ``n_shards``,
    pos = 1-based rank within the shard by a second independent salted
    digest (doc_id ASC tie-break — MD5 collisions on distinct keys are
    negligible but the ordering must be total either way). Re-running on
    the same corpus yields byte-identical shard files; changing ``salt``
    reshuffles globally — the epoch-reshuffle story.

    Physical shape at 100 TB: ONE hash-partition exchange on ``shard``
    plus an in-partition sort — exactly the layout a sharded training-set
    writer needs (`.repartition("shard")` feeding
    ``partitionBy("shard")`` with rows already in position order), so the
    assignment is free on top of the write job.
    """
    keyed = df.select(
        F.col(id_col).alias("doc_id"),
        F.pmod(hash60(F.col(id_col), salt + ":shard"), F.lit(n_shards)).alias(
            "shard"
        ),
        _salted_digest(F.col(id_col), salt + ":pos").alias("_rank_digest"),
    )
    w = Window.partitionBy("shard").orderBy("_rank_digest", "doc_id")
    return keyed.select(
        "doc_id",
        "shard",
        F.row_number().over(w).cast("long").alias("pos"),
    )


def leakage_safe_split(
    docs: DataFrame,
    test_fraction: float = 0.1,
    salt: str = "split",
    clusters: DataFrame | None = None,
) -> DataFrame:
    """Near-dup-aware train/test split: the holdout draw happens per
    CLUSTER, not per document, so no near-duplicate pair ever straddles
    the boundary (the eval-leakage failure mode a per-doc split has by
    construction — a paraphrase of a test doc lands in train and the
    benchmark silently memorizes).

    Clusters default to the full fuzzy chain
    (text_dedup.near_dup_text_clusters); production passes the pipeline's
    materialized assignment frame instead (same injection contract as
    tiers.dedup_tier_stats), making the split itself a map-only salted-MD5
    predicate on ``cluster_id`` — every member of a cluster hashes the
    same id, hence lands on the same side, with the holdout mass within
    any scale-up factor of ``test_fraction`` by the uniformity of the
    digest draw."""
    if clusters is None:
        from .text_dedup import near_dup_text_clusters

        clusters = near_dup_text_clusters(docs)
    thr = F.lit(fraction_to_hex_threshold(test_fraction))
    return clusters.select(
        "doc_id",
        "cluster_id",
        F.when(
            _salted_digest(F.col("cluster_id"), salt) < thr, F.lit("test")
        )
        .otherwise(F.lit("train"))
        .alias("split"),
    )
