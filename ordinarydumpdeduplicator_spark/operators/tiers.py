"""Tiered dedup cascade — the graft's namesake operator.

The reference runs a single dedup tier: group files by content hash and
report duplicate groups (DataControllerSimple.cs:252-301). A training-data
pipeline at 100 TB runs a CASCADE of tiers ordered by cost and strictness,
and needs to know WHICH tier caught each duplicate (tier attribution drives
both the removal policy and the per-tier quality accounting):

    empty       no content (the reference's Empty/Broken sentinel rows,
                OrdinaryDumpDeduplicator.cs:117-122, generalized to text)
    exact       byte-identical text          (sha256 of the raw text)
    normalized  identical after lower+whitespace-collapse (the reference's
                hash-of-canonical-form idea, F3/F4)
    near        same verified fuzzy cluster  (MinHash->LSH->verify->CC,
                operators/text_dedup.near_dup_text_clusters)
    unique      none of the above

Attribution is PRECEDENCE over three independently-computed groupings, not
a sequential re-run on survivors: each tier's keeper is the numeric-min
doc id of that tier's group, and a document's tier is the first tier whose
keeper differs from itself. This keeps the semantics deterministic and
oracle-checkable (no dependence on which survivors a previous tier left),
while the cheap set-containment facts (raw-equal => normalized-equal =>
shingle-identical) make the cascade behave exactly like the sequential
version on non-pathological data.

Scale shape: two hash-aggregates + equi-joins on 64-hex sha keys (near
-unique — skew-free by construction; identical content collapses in the
map-side partial min), one reuse of the LSH cluster assignment (itself
bucket-capped and skew-guarded), and a final equi-join on doc_id. No
windows, no sorts on content keys — the same plan discipline as
exact_text_groups (tests/test_plans.py pins the no-sort invariant there).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import (
    DEFAULT_SKETCH_BUCKET_CAP,
    SKETCH_PLANES,
    embedding_near_pairs_lsh,
)
from .text_dedup import near_dup_text_clusters, normalized_text


def dedup_tiers(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    clusters: DataFrame | None = None,
) -> DataFrame:
    """One row per document: (doc_id, tier, keeper_id).

    ``keeper_id`` is the numeric-min member of the group that caught the
    document at its tier (itself for 'empty' and 'unique'). The
    deduplicated corpus is ``doc_id == keeper_id AND tier != 'empty'`` —
    empty rows keep themselves as keeper (there is no content to pick a
    canonical copy of), so the removal policy drops the whole tier, not
    just non-keepers. Grouping by ``tier`` yields the per-tier removal
    accounting (dedup_tier_stats).

    ``clusters``: optionally a precomputed (doc_id, cluster_id) fuzzy
    assignment (near_dup_text_clusters output, or a checkpointed stage
    table). At 100 TB the LSH->verify->CC chain is by far the most
    expensive input and is typically already materialized by the dedup
    pipeline — pass it in rather than recomputing it per report."""
    return _tiers_frame(docs, id_col, text_col, clusters).select(
        "doc_id", "tier", "keeper_id"
    )


def _tiers_frame(
    docs: DataFrame, id_col: str, text_col: str, clusters: DataFrame | None
) -> DataFrame:
    """(doc_id, tier, keeper_id, _len) — _len rides along from the first
    projection so dedup_tier_stats doesn't need a third corpus scan and a
    corpus-wide join to recover text lengths."""
    is_empty = F.col("text").isNull() | (F.trim(F.col("text")) == "")
    keyed = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("text"),
    ).select(
        "doc_id",
        F.length("text").cast("long").alias("_len"),
        is_empty.alias("is_empty"),
        F.when(~is_empty, F.sha2(F.col("text"), 256)).alias("raw_sha"),
        F.when(~is_empty, F.sha2(normalized_text(F.col("text")), 256)).alias(
            "norm_sha"
        ),
    )
    exact_k = (
        keyed.filter(~F.col("is_empty"))
        .groupBy("raw_sha")
        .agg(F.min("doc_id").alias("exact_keeper"))
    )
    norm_k = (
        keyed.filter(~F.col("is_empty"))
        .groupBy("norm_sha")
        .agg(F.min("doc_id").alias("norm_keeper"))
    )
    if clusters is None:
        clusters = near_dup_text_clusters(
            docs, id_col=id_col, text_col=text_col
        )
    clusters = clusters.select("doc_id", "cluster_id")
    joined = (
        keyed.join(exact_k.hint("shuffle_hash"), "raw_sha", "left")
        .join(norm_k.hint("shuffle_hash"), "norm_sha", "left")
        .join(clusters, "doc_id", "left")
    )
    tier = (
        F.when(F.col("is_empty"), F.lit("empty"))
        .when(F.col("doc_id") != F.col("exact_keeper"), F.lit("exact"))
        .when(F.col("doc_id") != F.col("norm_keeper"), F.lit("normalized"))
        .when(F.col("doc_id") != F.col("cluster_id"), F.lit("near"))
        .otherwise(F.lit("unique"))
    )
    keeper = (
        F.when(F.col("is_empty"), F.col("doc_id"))
        .when(F.col("doc_id") != F.col("exact_keeper"), F.col("exact_keeper"))
        .when(F.col("doc_id") != F.col("norm_keeper"), F.col("norm_keeper"))
        .when(F.col("doc_id") != F.col("cluster_id"), F.col("cluster_id"))
        .otherwise(F.col("doc_id"))
    )
    return joined.select(
        "doc_id", tier.alias("tier"), keeper.alias("keeper_id"), "_len"
    )


def embedding_dedup_tiers(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.4,
    bands: int = 16,
    bucket_cap: int = DEFAULT_SKETCH_BUCKET_CAP,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    clusters: DataFrame | None = None,
) -> DataFrame:
    """The tier cascade on the embedding modality: (vec_id, tier,
    keeper_id) with tiers empty -> exact -> near -> unique.

    - exact: bit-identical vectors (grouped by the array value — at 100 TB
      swap the 256-byte key for a sha over the raw buffer; the grouping is
      value-equivalent either way)
    - near:  verified hyperplane-LSH cosine pairs (>= threshold) closed
      into components, numeric-min heads — the embedding twin of
      near_dup_text_clusters

    BAND SIZING IS ENFORCED, NOT ADVISORY: each band has
    SKETCH_PLANES/bands sign bits, so random vectors spread over ~2^bits
    buckets per band and the expected bucket holds ~corpus / 2^bits rows.
    The driver-gate default (64 planes / 16 bands = 4 bits = 16 keys) is
    tuned for the low-threshold small-corpus oracle regime and would
    COLLAPSE past ~16k vectors (every bucket over bucket_cap dropped, the near tier silently
    empty) — so when the expected bucket load n / 2^bits exceeds
    bucket_cap / 2, bits-per-band are widened (bands * bits planes)
    until it doesn't, with a warning. Widening trades recall for bounded
    buckets; recover recall by raising ``bands`` explicitly (e.g. 10^9
    vectors with cap 1024 want >= 20 bits per band). Sizing counts exact
    REPRESENTATIVES: bit-identical vectors are collapsed to their min-id
    keeper before sketching (same pre-collapse as the caption LSH path),
    so a duplicate-heavy wave cannot hot-bucket the sketch — copies
    inherit the near tier through their exact keeper, which yields
    byte-identical cascade output.

    ``clusters``: optionally a precomputed (vec_id, cluster_id) numeric-min
    assignment (a checkpointed stage table) — same reuse contract as
    dedup_tiers; skips the sketch -> verify -> CC chain entirely.

    Same precedence-over-independent-groupings semantics as dedup_tiers;
    empty/NULL vectors tier as 'empty' and never enter the sketch path
    (an empty array cannot be sketched)."""
    from .connected_components import numeric_min_components

    base = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
    )
    nonempty = base.filter(
        F.col("vec").isNotNull() & (F.size("vec") > 0)
    )
    ex = nonempty.groupBy("vec").agg(F.min("vec_id").alias("exact_keeper"))
    if clusters is None:
        # ex now has three consumers (sizing count, the sketch chain, the
        # final join): lazy localCheckpoint materializes the grouped
        # frame once on first use instead of re-shuffling the corpus per
        # consumer (measured round-2: lazy beats eager AND no-checkpoint
        # for multi-consumer frames in one job wave)
        ex = ex.localCheckpoint(eager=False)
        # sketch only the exact representatives (min id per distinct
        # vector value); identical copies connect exactly where their
        # keeper connects, so components over reps lose nothing
        reps = ex.select(
            F.col("exact_keeper").alias("vec_id"), "vec"
        )
        bits = max(1, SKETCH_PLANES // bands)
        n_reps = reps.count()
        widened = bits
        while n_reps / (1 << widened) > bucket_cap / 2 and widened < 24:
            widened += 1
        if widened != bits:
            import warnings

            warnings.warn(
                f"embedding_dedup_tiers: widened band keys from {bits} to "
                f"{widened} bits ({n_reps} representatives vs bucket_cap "
                f"{bucket_cap}) — raise `bands` to recover recall",
                stacklevel=2,
            )
        pairs = embedding_near_pairs_lsh(
            reps, dim=dim, threshold=threshold,
            n_planes=SKETCH_PLANES if widened == bits else bands * widened,
            bands=bands, id_col="vec_id", vec_col="vec",
            bucket_cap=bucket_cap,
        )
        clusters = numeric_min_components(
            pairs.select(
                F.col("vec_id_a").alias("src"),
                F.col("vec_id_b").alias("dst"),
            ),
            out_id="vec_id",
        )
    clusters = clusters.select("vec_id", "cluster_id")
    is_empty = F.col("vec").isNull() | (F.size("vec") == 0)
    joined = base.join(ex, "vec", "left").join(clusters, "vec_id", "left")
    tier = (
        F.when(is_empty, F.lit("empty"))
        .when(F.col("vec_id") != F.col("exact_keeper"), F.lit("exact"))
        .when(F.col("vec_id") != F.col("cluster_id"), F.lit("near"))
        .otherwise(F.lit("unique"))
    )
    keeper = (
        F.when(is_empty, F.col("vec_id"))
        .when(F.col("vec_id") != F.col("exact_keeper"), F.col("exact_keeper"))
        .when(F.col("vec_id") != F.col("cluster_id"), F.col("cluster_id"))
        .otherwise(F.col("vec_id"))
    )
    return joined.select(
        "vec_id", tier.alias("tier"), keeper.alias("keeper_id")
    )


def tier_drift(
    prev: DataFrame, cur: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Tier-transition matrix between two cascade snapshots:
    (tier_from, tier_to, n_docs) — how an ingest wave moved documents
    between dedup tiers. Documents present in only one snapshot appear
    as 'absent' on the other axis (new arrivals / removals), so the
    matrix accounts for every id in the union: a wave of exact copies
    shows up as unique->exact mass plus absent->exact arrivals — the
    dashboard diff a corpus operator reads after each ingest.

    Scale shape: one full-outer equi-join on the id (both sides are
    cascade OUTPUTS — skinny id/tier frames, not corpora) and a
    <=36-cell aggregate; partial-aggregated map-side, no windows.

    Reference analogue: the reference recomputes its report per scan
    and shows only the current state (DuplicateReport.cs); the drift
    matrix is the versioned-state diff its HierarchyAnalyzer never had
    — same spirit as states.detect_moved (J6/O5) but at tier level."""
    p = prev.select(
        F.col(id_col).alias("doc_id"), F.col("tier").alias("tier_from")
    )
    c = cur.select(
        F.col(id_col).alias("doc_id"), F.col("tier").alias("tier_to")
    )
    return (
        p.join(c, "doc_id", "full_outer")
        .select(
            F.coalesce("tier_from", F.lit("absent")).alias("tier_from"),
            F.coalesce("tier_to", F.lit("absent")).alias("tier_to"),
        )
        .groupBy("tier_from", "tier_to")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _sql_str(s: str) -> str:
    """A SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


# Image-pipeline edge kinds in precedence order (strongest identity first):
# byte-identical file, identical decoded pixels, identical caption text,
# identical pHash sketch, verified pixel near-dup, verified caption
# near-dup. plans/pipeline.edges emits every edge tagged with its kind.
IMAGE_TIER_PRECEDENCE = [
    "exact",
    "pixel_exact",
    "caption_exact",
    "phash_exact",
    "image_near",
    "caption_near",
]


def tier_attribution(
    clusters: DataFrame,
    edges: DataFrame,
    precedence: list[str],
    id_col: str = "image_id",
) -> DataFrame:
    """Per-item tier attribution shared by the image pipeline and the
    video dedup report: (id_col, cluster_id, tier) where tier is the
    strongest-``precedence`` edge kind incident to the item — which
    detector tier caught it. Dup-group heads get 'canonical', singletons
    'unique'. ``clusters`` needs (id_col, cluster_id, is_dup); ``edges``
    needs (src, dst, kind).

    Scale shape: the edge frame is orders of magnitude smaller than the
    corpus (bounded by dup volume + LSH bucket caps); exploding both
    endpoints doubles it, the min-precedence aggregate partial-combines
    map-side, and the corpus-side join is a left join on the id that
    AQE can broadcast whenever the dup set is small."""
    # unknown kinds (a future edge family, or an edges checkpoint from a
    # newer run) rank BELOW every known tier as 'other' — array_position
    # returns 0 for them and element_at(_, 0) would throw. SQL strings:
    # one parser call per projection instead of py4j round trips for a
    # Column per label.
    labels = "array(" + ", ".join(_sql_str(k) for k in precedence + ["other"]) + ")"
    pos = f"array_position({labels}, kind)"
    idx = f"CASE WHEN {pos} > 0 THEN {pos} ELSE {len(precedence) + 1} END AS p"
    col = f"`{id_col}`"
    touched = (
        edges.selectExpr(f"src AS {col}", idx)
        .unionByName(edges.selectExpr(f"dst AS {col}", idx))
        .groupBy(id_col)
        .agg(F.expr("min(p) AS p"))
        .selectExpr(col, f"element_at({labels}, CAST(p AS INT)) AS _tier")
    )
    # `touched` is edge-endpoint-sized; shuffle_hash avoids Catalyst's
    # stats-blind SortMergeJoin (which sorts the corpus side), and AQE
    # still upgrades to broadcast at runtime when the dup set is small
    return clusters.join(touched.hint("shuffle_hash"), id_col, "left").selectExpr(
        col,
        "cluster_id",
        f"CASE WHEN NOT is_dup THEN 'unique' WHEN {col} = cluster_id THEN 'canonical' "
        "ELSE coalesce(_tier, 'unique') END AS tier",
    )


def image_tier_report(clusters: DataFrame, edges: DataFrame) -> DataFrame:
    """Per-image tier attribution for the image near-dup pipeline — see
    tier_attribution for the semantics and scale shape."""
    return tier_attribution(clusters, edges, IMAGE_TIER_PRECEDENCE)


# Which modality's detector produced each edge kind. "file" is its own
# family: byte-identical containers prove BOTH payloads equal at once.
MODALITY_OF_KIND = {
    "exact": "file",
    "pixel_exact": "image",
    "phash_exact": "image",
    "image_near": "image",
    "caption_exact": "caption",
    "caption_near": "caption",
}


def modality_agreement(clusters: DataFrame, edges: DataFrame) -> DataFrame:
    """Cross-modality dedup audit for the image+caption pipeline:
    (image_id, cluster_id, has_file, has_image, has_caption, agreement)
    where the flags say which evidence families have at least one edge
    incident to the image, and ``agreement`` is the verdict a corpus
    auditor acts on:

      - 'file'          byte-identical container evidence (implies both)
      - 'both'          independent image AND caption evidence — the
                        high-confidence near-dup
      - 'image_only'    pixels match but captions don't — recaptioned
                        copies (dedup keeps one caption arbitrarily;
                        flag for caption reconciliation)
      - 'caption_only'  captions match but pixels don't — suspicious:
                        mislabeled pairs or stock-caption spam; the rows
                        a human reviews before trusting the cluster
      - 'unique'        not in any dup group
      - 'other'         only unknown/future edge kinds touch the image

    Scale shape: identical to image_tier_report — the edge frame (dup-
    volume-bounded, orders of magnitude under the corpus) is exploded
    to both endpoints, three boolean max-aggregates partial-combine
    map-side, and the corpus side is a left equi-join on image_id that
    AQE broadcasts when the dup set is small. No windows, no Python.

    Reference analogue: none (the reference has one evidence kind —
    byte hash); beyond-reference multimodal surface, SURVEY §2.12."""
    fam = (
        "map("
        + ", ".join(_sql_str(x) for kv in MODALITY_OF_KIND.items() for x in kv)
        + ")[kind] AS fam"
    )
    halves = edges.selectExpr("src AS image_id", fam).unionByName(
        edges.selectExpr("dst AS image_id", fam)
    )
    touched = halves.groupBy("image_id").agg(
        F.expr("max(fam = 'file') AS has_file"),
        F.expr("max(fam = 'image') AS has_image"),
        F.expr("max(fam = 'caption') AS has_caption"),
    )
    file, image, caption = (
        f"coalesce(has_{m}, false)" for m in ("file", "image", "caption")
    )
    agreement = (
        f"CASE WHEN NOT is_dup THEN 'unique' WHEN {file} THEN 'file' "
        f"WHEN {image} AND {caption} THEN 'both' "
        f"WHEN {image} THEN 'image_only' WHEN {caption} THEN 'caption_only' "
        "ELSE 'other' END AS agreement"
    )
    return clusters.join(touched, "image_id", "left").selectExpr(
        "image_id",
        "cluster_id",
        f"{file} AS has_file",
        f"{image} AS has_image",
        f"{caption} AS has_caption",
        agreement,
    )


def modality_agreement_stats(
    clusters: DataFrame, edges: DataFrame
) -> DataFrame:
    """The auditor's one-screen rollup: (agreement, n_images) — how much
    of the dup volume rests on file, cross-modal, or single-modality
    evidence. One hash-aggregate over modality_agreement."""
    return (
        modality_agreement(clusters, edges)
        .groupBy("agreement")
        .agg(F.count(F.lit(1)).alias("n_images"))
    )


def dedup_tier_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    clusters: DataFrame | None = None,
) -> DataFrame:
    """Per-tier removal accounting: (tier, n_docs, n_chars) — how many
    documents (and how much text) each tier of the cascade accounts for.
    The 100 TB consumer's dashboard row: 'exact removed X%, near removed
    Y% on top'. n_chars sums raw text length (NULL text contributes
    nothing, matching SQL sum semantics)."""
    tiers = _tiers_frame(docs, id_col, text_col, clusters)
    return tiers.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_len").alias("n_chars"),
    )
