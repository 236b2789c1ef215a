"""Text deduplication over any (id, text) DataFrame — the engine's dedup
operators applied to a document corpus (training-data-pipeline form).

Same semantics as the image pipeline, re-keyed for text:
- exact:   content key = sha256(normalized text)  (O1/O2 — the reference's
           hash-group, DataControllerSimple.cs:252-301)
- near:    MinHash signature -> LSH bands -> verified candidate pairs
- cheap:   token-set Jaccard for same-bucket pairs (SQL-expressible form,
           used by the DuckDB oracle cross-check)

All outputs alias columns explicitly so oracle SQL can match them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.minhash import band_keys_udf
from .lsh import DEFAULT_BUCKET_CAP, caption_band_rows, pairs_from_buckets
from .verify import verify_caption_pairs

MAX_LEN_DIFF = 5  # token_jaccard_pairs' length blocking, in chars
BIN_WIDTH = 0.05  # pair_score_histogram's Jaccard bin width


def normalized_text(col) -> F.Column:
    """lower + whitespace-collapse + trim; the fingerprint input (F4/F3)."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_text_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One row per document with its content group stats (O1 without the
    HAVING filter so singleton groups are still visible/testable).

    Hash-aggregate group stats + equi-join back instead of a window: the
    window would SORT every row by the 64-char sha after the exchange.
    The explicit repartition on the content key is shared by BOTH the
    aggregate and the join probe side (identical exchange subtree ->
    reused), so the scan + sha256 run once and exactly one shuffle of the
    rows happens; the shuffle_hash hint keeps the join sort-free
    (pinned by tests/test_plans.py). Same shape as
    operators/exact_dedup.exact_clusters."""
    rows = docs.select(
        F.col(id_col).alias("doc_id"),
        F.sha2(normalized_text(F.col(text_col)), 256).alias("content_sha"),
    ).repartition("content_sha")
    groups = rows.groupBy("content_sha").agg(
        F.min("doc_id").alias("cluster_id"),
        F.count(F.lit(1)).alias("n_members"),
    )
    return rows.join(groups.hint("shuffle_hash"), "content_sha").select(
        "doc_id",
        "content_sha",
        "cluster_id",
        "n_members",
        (F.col("n_members") > 1).alias("is_dup"),
    )


def dup_text_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """O2: duplicate groups only (HAVING count > 1), one row per group."""
    return (
        docs.select(
            F.sha2(normalized_text(F.col(text_col)), 256).alias("content_sha"),
            F.col(id_col).alias("doc_id"),
            F.length(F.col(text_col)).cast("long").alias("n_chars"),
        )
        .groupBy("content_sha")
        .agg(
            F.min("doc_id").alias("cluster_id"),
            F.count(F.lit(1)).alias("n_members"),
            F.sum("n_chars").alias("all_chars"),
        )
        .filter(F.col("n_members") > 1)
    )


def soft_dedup_weights(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Duplicate-aware sampling weights ("soft dedup"): keep EVERY row but
    weight it 1/n_members, so a weighted training sampler sees each
    distinct content exactly once in expectation instead of up-weighting
    whatever the crawl duplicated most. The drop-free counterpart of the
    reference's hash-group dedup (DataControllerSimple.cs:252-301) — used
    by pipelines that prefer reweighting over deletion.

    Pure derivation over exact_text_groups (same single shuffle on the
    content key, hash-agg + sort-free join back); 1.0/n is IEEE-identical
    in Spark and DuckDB, so the oracle is value-exact. NULL-text rows are
    excluded — their content is undefined, so they carry no dedup weight
    (same exclusion exact_text_groups applies via its NULL equi-join key)."""
    groups = exact_text_groups(docs, id_col=id_col, text_col=text_col)
    return groups.select(
        "doc_id",
        "content_sha",
        "cluster_id",
        "n_members",
        (F.lit(1.0) / F.col("n_members")).alias("weight"),
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


def cluster_representatives(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Canonical-document selection per exact-content cluster: keep the
    highest-quality member (longest RAW text — whitespace survives even
    when the normalized key collapses it — ties broken by smallest id)
    rather than exact_text_groups' arbitrary min-id cluster head. The
    "which copy do we keep" step of a dedup pipeline, analogous to the
    reference choosing which duplicate file survives isolation
    (DuplicatesIsolator.cs).

    One hash-aggregate with `max_by` — no window, so nothing ever sorts
    rows by the 64-char sha key (the window formulation is the plan
    tests/test_plans.py forbids for the group operators). The
    (n_chars DESC, doc_id ASC) ordering is packed into ONE decimal(38,0)
    value ``n_chars * 2e19 - doc_id`` instead of a struct: max_by over a
    struct ordering key is not hash-aggregable (struct buffer fields are
    immutable in UnsafeRow, so Spark falls back to SortAggregate — a
    full local sort of the corpus by sha on the map side), while a
    decimal buffer keeps the whole thing a HashAggregate. The band width
    2e19 exceeds the full bigint range (|doc_id| <= ~9.2e18), so the
    packing is order-exact for ANY doc_id, and the product tops out near
    4e28 for int-sized text lengths — far inside decimal(38,0). NULL-text
    rows are excluded (no content to represent), keeping the output
    aligned with exact_text_groups."""
    rows = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        F.sha2(normalized_text(F.col(text_col)), 256).alias("content_sha"),
        F.length(F.col(text_col)).cast("long").alias("n_chars_raw"),
    )
    order = F.expr(
        "cast(n_chars_raw as decimal(38,0))"
        " * cast(20000000000000000000 as decimal(38,0))"
        " - cast(doc_id as decimal(38,0))"
    )
    return rows.groupBy("content_sha").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max_by("doc_id", order).alias("rep_doc_id"),
        F.max("n_chars_raw").alias("rep_chars"),
    )


def minhash_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """LSH candidate pairs over document text (ids as strings for the
    shared banding machinery; cast back by the caller if needed).

    No null filter on ``bands``: posexplode skips null arrays anyway, and
    a filter on a pandas-UDF output column makes Catalyst evaluate the
    UDF TWICE (once inside the Filter, once again to produce the column
    after it — visible as two ArrowEvalPython nodes in the plan)."""
    from .lsh import ensure_min_parallelism

    sigs = ensure_min_parallelism(
        docs.select(F.col(id_col).cast("string").alias("id"), text_col)
    ).select("id", band_keys_udf(F.col(text_col)).alias("bands"))
    banded = caption_band_rows(sigs)
    return pairs_from_buckets(banded, bucket_cap=DEFAULT_BUCKET_CAP)


def near_dup_text_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Full near-dup pair detection: LSH candidates verified by exact
    shingle Jaccard / LCS (operators/verify.py, at its JACCARD_THRESHOLD
    and LCS_RATIO — the caption rule)."""
    cands = minhash_candidate_pairs(docs, id_col, text_col)
    corpus = docs.select(
        F.col(id_col).cast("string").alias("image_id"),
        F.col(text_col).alias("caption"),
    )
    return verify_caption_pairs(cands, corpus).select(
        F.col("src").alias("doc_id_a"), F.col("dst").alias("doc_id_b"), "kind"
    )


def token_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    same_col: str = "lang",
) -> DataFrame:
    """SQL-expressible near-dup measure: token-SET intersection/union counts
    for candidate pairs blocked on an equality column (e.g. same lang) and
    length within MAX_LEN_DIFF chars. Integer outputs only (hash-stable
    vs the DuckDB oracle).

    The blocking key is COMPOSITE — (blk, length band) with the band width
    sized to ``MAX_LEN_DIFF + 1`` so any qualifying pair differs by at most
    one band: side b explodes into (band-1, band, band+1) and the equi-join
    key carries the length constraint. Per-key pair volume is then bounded
    by the per-(blk, band) population, not per-blk — on a 5-language corpus
    the bare-lang key is ~corpus/5 per block and quadratic at scale. The
    exploded values are distinct, so each ordered pair matches exactly once
    and the result set is identical to the bare-blk join."""
    band_w = MAX_LEN_DIFF + 1
    toks = F.array_distinct(
        F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != "")
    )
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(same_col).alias("blk"),
        F.length(F.col(text_col)).alias("len"),
        toks.alias("toks"),
    )
    band = F.floor(F.col("len") / band_w).cast("long")
    a = base.select(
        F.col("doc_id").alias("doc_id_a"), F.col("blk"),
        F.col("len").alias("len_a"), F.col("toks").alias("toks_a"),
        band.alias("band"),
    )
    b = base.select(
        F.col("doc_id").alias("doc_id_b"), F.col("blk"),
        F.col("len").alias("len_b"), F.col("toks").alias("toks_b"),
        F.explode(F.array(band - 1, band, band + 1)).alias("band"),
    )
    return (
        a.join(b, ["blk", "band"])
        .where(
            (F.col("doc_id_a") < F.col("doc_id_b"))
            & (F.abs(F.col("len_a") - F.col("len_b")) <= MAX_LEN_DIFF)
        )
        .select(
            "doc_id_a",
            "doc_id_b",
            F.size(F.array_intersect("toks_a", "toks_b")).cast("long").alias("n_inter"),
            F.size(F.array_union("toks_a", "toks_b")).cast("long").alias("n_union"),
        )
    )


def simhash_near_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hamming_threshold: int = 3,
) -> DataFrame:
    """SimHash near-duplicate pairs over document text.

    64-bit token SimHash (vectorized Arrow UDF) -> 4x16-bit block bands ->
    candidate pairs -> exact Hamming via JVM bit_count. Output:
    (doc_id_a, doc_id_b, hamming).

    Recall guarantee: by pigeonhole, any pair within Hamming <= 3 shares
    at least one block and WILL be a candidate — hence the default
    threshold of 3. Larger thresholds are accepted but best-effort: a pair
    at distance 4-6 whose differing bits straddle all four blocks is never
    banded together (use more/overlapping blocks or multi-probe if
    guaranteed recall beyond 3 is needed)."""
    from .features import simhash_text_udf

    simhash_udf = simhash_text_udf()
    # localCheckpoint: sh has THREE consumers (band explode + both sides
    # of the candidate join-back), and the isNotNull filter on a
    # pandas-UDF output column alone already makes Catalyst evaluate the
    # UDF twice — the cut pays one small job to run the UDF exactly once
    from .lsh import ensure_min_parallelism

    sh = (
        ensure_min_parallelism(
            docs.select(F.col(id_col).cast("string").alias("id"), text_col)
        )
        .select("id", simhash_udf(F.col(text_col)).alias("simhash"))
        .filter(F.col("simhash").isNotNull())
        .localCheckpoint()
    )

    entries = F.array(
        *[
            F.struct(
                F.lit(k).alias("band"),
                F.shiftright("simhash", 16 * k)
                .bitwiseAND(F.lit(0xFFFF))
                .cast("long")
                .alias("key"),
            )
            for k in range(4)
        ]
    )
    banded = sh.select("id", "simhash", F.explode(entries).alias("e")).select(
        "id", "simhash", F.col("e.band").alias("band"), F.col("e.key").alias("key")
    )
    cands = pairs_from_buckets(banded, bucket_cap=DEFAULT_BUCKET_CAP)
    sh_a = sh.select(F.col("id").alias("src"), F.col("simhash").alias("sh_a"))
    sh_b = sh.select(F.col("id").alias("dst"), F.col("simhash").alias("sh_b"))
    return (
        cands.join(sh_a, "src")
        .join(sh_b, "dst")
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= hamming_threshold)
        .select(
            F.col("src").alias("doc_id_a"),
            F.col("dst").alias("doc_id_b"),
            F.col("hamming").cast("long").alias("hamming"),
        )
    )


def dup_size_histogram(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-level duplication profile: how many exact-content clusters
    exist at each multiplicity, and how many documents they hold. The
    corpus-wide analogue of the reference report's per-cluster size
    metrics (DuplicateReport.cs:118-158 counts per group) — the shape a
    crawl-health dashboard plots before deciding dedup policy.

    Two hash-aggregates, each keyed far below row cardinality (content
    sha, then cluster size) — both map-side combinable; the second
    grouping's key domain is O(log corpus) distinct sizes, so the final
    reduce is a handful of rows regardless of input scale."""
    sizes = (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            F.sha2(normalized_text(F.col(text_col)), 256).alias("content_sha")
        )
        .groupBy("content_sha")
        .agg(F.count(F.lit(1)).alias("n_members"))
    )
    return sizes.groupBy("n_members").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("n_members").alias("n_docs"),
    )


def near_dup_text_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """End-to-end fuzzy dedup with cluster assignment for EVERY document:
    MinHash-LSH candidates -> exact Jaccard/LCS verify -> connected
    components -> numeric-min cluster ids, singletons (and NULL-text
    docs) assigned to themselves. The document-side twin of the image
    NearDupPipeline (plans/pipeline.py) and the fuzzy counterpart of
    exact_text_groups — what a FineWeb-style pipeline actually ships as
    its dedup verdict table.

    Oracle: the CC fixpoint is mirrored in DuckDB as a recursive
    min-label CTE over the verified pair list
    (oracles.near_dup_text_clusters_sql) — value-exact in the driver
    gate — and additionally pinned against the driver-side union-find in
    tests.

    Scale shape: pair volume is bounded by the LSH bucket caps and the CC
    edge frame is orders of magnitude below corpus size. The numeric-min
    head remap is one aggregate + equi-join on the component key, both
    sides derived from the same assignment frame — left to AQE, which
    broadcasts when the head set is small and shuffle-joins when a
    web-scale corpus makes it large (no unconditional broadcast: on crawl
    data a third of all docs can sit in fuzzy clusters)."""
    pairs = near_dup_text_pairs(docs, id_col=id_col, text_col=text_col)
    from .connected_components import numeric_min_components

    clustered = numeric_min_components(
        pairs.select(
            F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst")
        ),
        out_id="doc_id",
    )
    everyone = docs.select(F.col(id_col).alias("doc_id"))
    singletons = everyone.join(clustered, "doc_id", "left_anti").select(
        "doc_id",
        F.col("doc_id").alias("cluster_id"),
        F.lit(1).cast("long").alias("n_members"),
    )
    return clustered.unionByName(singletons).withColumn(
        "is_canonical", F.col("doc_id") == F.col("cluster_id")
    )


def near_soft_dedup_weights(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    clusters: DataFrame | None = None,
) -> DataFrame:
    """Soft dedup over the FUZZY closure: keep every row, weight it
    1/n_cluster_members so a weighted sampler sees each near-duplicate
    *family* once in expectation. The near-dup counterpart of
    soft_dedup_weights (which only collapses exact content copies) — the
    reweighting regime data-constrained training recipes prefer over
    deletion, applied to the clusters the reference's grouping would
    report (DataControllerSimple.cs:252-301 generalized to fuzzy).

    Clusters are injectable (the dedup_tier_stats / leakage_safe_split
    contract): production passes the pipeline's materialized assignment
    frame and this becomes ONE projection over it — no LSH recompute.
    1.0/n is IEEE-identical in Spark and DuckDB, so the oracle
    (recursive-CTE closure + the same division) is value-exact."""
    if clusters is None:
        clusters = near_dup_text_clusters(
            docs, id_col=id_col, text_col=text_col
        )
    return clusters.select(
        "doc_id",
        "cluster_id",
        "n_members",
        (F.lit(1.0) / F.col("n_members")).alias("weight"),
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


def top_reclaimable_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    clusters: DataFrame | None = None,
) -> DataFrame:
    """The reference's headline report ordering — duplicate groups sorted
    by reclaimable size descending (T1, DuplicatesViewController.cs:32-52,
    metric O7's DuplicatesDataSize = group bytes minus the kept copy,
    SameContentFilesInfo.cs:34-68) — lifted to the fuzzy text clusters:
    for each multi-member cluster, the chars reclaimable by keeping only
    the representative (longest raw text, ties to smallest doc_id — the
    cluster_representatives keeper rule).

    Shape at 100 TB: clusters ⋈ docs is one equi-join on doc_id (both
    sides pre-partitionable on it), a single hash-aggregate per cluster
    (max_by packs the keeper ordering into one decimal so the agg never
    sorts), and the global top-k executes as TakeOrderedAndProject —
    per-partition k-heaps merged on the driver, k rows, no global sort.
    Clusters injectable as everywhere else; the deterministic
    (reclaimable DESC, cluster_id ASC) tie-break keeps the k-row set
    stable across partitionings.

    Contract: ``id_col`` must be NUMERIC (castable to decimal(38,0)) —
    the same keeper-ordering contract as cluster_representatives, here
    packed into one max_by decimal. A non-numeric id would cast to NULL
    and silently drop every row from the keeper argmax, so the cast is
    validated eagerly and raises instead."""
    id_type = docs.schema[id_col].dataType.simpleString()
    if not (
        id_type in ("tinyint", "smallint", "int", "bigint")
        or id_type.startswith("decimal")
    ):
        raise ValueError(
            f"top_reclaimable_clusters requires a numeric {id_col!r} "
            f"(got {id_type}): the keeper tie-break packs the id into a "
            "decimal(38,0); a string id would cast to NULL and max_by "
            "would return NULL rep_doc_id for every cluster"
        )
    if clusters is None:
        clusters = near_dup_text_clusters(
            docs, id_col=id_col, text_col=text_col
        )
    chars = docs.select(
        F.col(id_col).alias("doc_id"),
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
    )
    order = F.expr(
        "cast(n_chars as decimal(38,0))"
        " * cast(20000000000000000000 as decimal(38,0))"
        " - cast(doc_id as decimal(38,0))"
    )
    g = (
        clusters.join(chars, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("n_chars").alias("all_chars"),
            F.max_by("doc_id", order).alias("rep_doc_id"),
            F.max("n_chars").alias("rep_chars"),
        )
        .filter(F.col("n_members") > 1)
    )
    return (
        g.select(
            "cluster_id",
            "n_members",
            "all_chars",
            "rep_doc_id",
            "rep_chars",
            (F.col("all_chars") - F.col("rep_chars")).alias(
                "reclaimable_chars"
            ),
        )
        .orderBy(F.desc("reclaimable_chars"), F.asc("cluster_id"))
        .limit(k)
    )


def pair_score_histogram(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Empirical S-curve data: every LSH candidate pair scored by EXACT
    shingle Jaccard and bucketed into fixed-width bins — the measured
    counterpart of the analytic banding curve 1 - (1 - s^r)^b.
    Operators read the threshold/band trade-off off this histogram (how
    many candidates sit just below the verify threshold, where the
    marginal recall of loosening it lives) without ever materializing the
    pair list.

    Scale shape: candidates are bucket-capped by construction, the
    verify-join ships two string columns bounded by candidate count
    (never bytes), the Jaccard is one Arrow-vectorized UDF pass, and the
    result collapses to ~1/BIN_WIDTH rows in a single hash-aggregate.
    The binning floor(j / BIN_WIDTH) is the same IEEE double math in Spark and
    DuckDB (n_inter/n_union is an exact small-int division), so the
    oracle is value-exact, not approximately so."""
    from ..functions.minhash import jaccard_udf

    cands = minhash_candidate_pairs(docs, id_col, text_col)
    corpus = docs.select(
        F.col(id_col).cast("string").alias("id"), F.col(text_col).alias("t")
    )
    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    scored = (
        cands.repartition(n_parts, "src", "dst")
        .join(
            corpus.withColumnRenamed("id", "src").withColumnRenamed(
                "t", "t_a"
            ),
            "src",
        )
        .join(
            corpus.withColumnRenamed("id", "dst").withColumnRenamed(
                "t", "t_b"
            ),
            "dst",
        )
        .select(jaccard_udf("t_a", "t_b").alias("jaccard"))
    )
    return (
        scored.select(
            F.floor(F.col("jaccard") / F.lit(BIN_WIDTH)).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(
            "bin",
            (F.col("bin") * F.lit(BIN_WIDTH)).alias("jaccard_lo"),
            "n_pairs",
        )
    )
