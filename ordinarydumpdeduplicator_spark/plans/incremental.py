"""Incremental inspections: only new/changed payloads pay feature cost.

The reference's operational loop is re-inspection: every scan creates an
``Inspection`` and each file gets a per-inspection ``FileState`` whose
status (New/Unchanged/Modified/Removed) is derived against the previous
state (Common/FileStatus.cs:5-14, Common/FileState.cs:67-70). At 10^12
rows the analogous property is the one that matters operationally: a
daily increment must NOT re-decode the whole corpus.

``incremental_features`` reuses the stored features table for every image
id already seen and runs the (expensive, Python-side) extraction ONLY for
ids not present yet — a left-anti join. Graph stages then run over the
combined compact features, which is the cheap, JVM-side part.
The fully incremental LSH refinement is one caption batch in two steps,
which the caption stream (streaming/near_dup.py) overlaps with its index
writes: ``incremental_caption_resolve`` (the first-seen rep of each batch
caption, and the rep/band index deltas) and ``incremental_caption_cluster``
(an append-only band index read through a batch-key semi join,
candidates only for pairs a new doc completes —
``incremental_caption_candidates`` — and re-clustering only of
components the new edges touch,
operators/connected_components.incremental_clusters).

Status derivation (CDC) comes from operators/states.derive_status over the
append-only states rows each run emits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.features import extract_features
from ..operators.lsh import DEFAULT_BUCKET_CAP


def incremental_features(
    images: DataFrame, prev_features: DataFrame | None
) -> tuple[DataFrame, DataFrame]:
    """-> (features for the CURRENT corpus, newly_extracted features).

    images: the current full input table (ids present = live rows).
    prev_features: the stored features table from the previous run (or
    None for a first run).

    Reuse rule: an id present in prev_features is NOT re-extracted (the
    input table contract is immutable payload per image_id — a changed
    payload must arrive under a new id, as in any content-addressed
    corpus). Removed ids drop out via the semi join.
    """
    if prev_features is None:
        fresh = extract_features(images)
        return fresh, fresh
    todo = images.join(
        prev_features.select("image_id"), "image_id", "left_anti"
    )
    fresh = extract_features(todo)
    kept = prev_features.join(
        images.select("image_id"), "image_id", "left_semi"
    )
    return kept.unionByName(fresh), fresh


def _band_rows(features: DataFrame) -> DataFrame:
    """(id, band, key): one row per LSH band of each featured image."""
    return features.filter("bands IS NOT NULL").selectExpr(
        "image_id AS id", "posexplode(bands) AS (band, key)"
    )


def incremental_caption_candidates(
    new_features: DataFrame,
    prev_bands: DataFrame | None,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
) -> tuple[DataFrame, DataFrame]:
    """-> (candidate pairs touching a NEW doc, band rows for new docs).

    Incremental LSH: the stored band index (id, band, key) grows append-
    only; a batch's candidates are pairs within the batch plus
    batch-vs-index joins — old-old pairs were already emitted by earlier
    runs, so each pair is discovered exactly once, by the batch that
    completes it. Bucket caps are enforced on the COMBINED bucket size
    (index + batch), mirroring operators/lsh.pairs_from_buckets.

    Per-batch cost shape: the index is only read through a semi join on
    the batch's band keys (pruned scan, no index-wide shuffle), and
    over-cap buckets pay O(batch), not O(bucket). The batch's band rows
    and the touched index rows go through ONE window over (band, key)
    that tags every row with its bucket's ``n``/``mn`` (size and min id,
    index + batch) and ``n_old``/``mn_old`` (the index's share). That
    window output is the one checkpoint: every edge family below reads
    it, so the index is scanned once. Per touched bucket:

    - small (``n <= bucket_cap``): each new member pairs with every
      other member, old or new;
    - crossing the cap (``n > bucket_cap >= n_old``): ALL members, old
      and new, star to ``mn`` — paid once, at the transition;
    - already capped (``n_old > bucket_cap``): only the new members
      star to ``mn`` (the old ones were starred when the bucket
      crossed), plus one bridge edge ``mn -> mn_old`` when the min
      moved, so the star centers chain together.

    Exact-duplicate captions collapse upstream (the caller emits
    caption_exact star edges from caption_sha groups), so the band index
    holds representatives — identical-caption skew never reaches the
    join, same as the batch pipeline."""
    new_bands = _band_rows(new_features)
    rows = new_bands.selectExpr("id", "band", "key", "true AS is_new")
    if prev_bands is not None:
        # index members of batch-touched buckets only: semi join on the
        # batch's (band, key) set — a pruned scan of the index (AQE
        # broadcasts the batch side when it is small), never an
        # index-wide aggregate
        rows = rows.unionByName(
            prev_bands.join(
                new_bands.select("band", "key").distinct(),
                ["band", "key"],
                "left_semi",
            ).selectExpr("id", "band", "key", "false AS is_new")
        )
    w = "OVER (PARTITION BY band, key)"
    win = (
        rows.selectExpr(
            "id",
            "band",
            "key",
            "is_new",
            f"count(1) {w} AS n",
            f"min(id) {w} AS mn",
            f"count(CASE WHEN NOT is_new THEN 1 END) {w} AS n_old",
            f"min(CASE WHEN NOT is_new THEN id END) {w} AS mn_old",
        )
        .filter("n >= 2")
        .localCheckpoint()
    )
    small = win.filter(f"n <= {bucket_cap}")
    # pair each new member against every bucket member (old or new);
    # least/greatest collapses the doubled new-new direction, the final
    # groupBy collapses multi-band agreement
    p_small = (
        small.filter("is_new")
        .select("band", "key", "id")
        .join(
            small.selectExpr("band", "key", "id AS other").hint(
                "shuffle_hash"
            ),
            ["band", "key"],
        )
        .where("id != other")
        .selectExpr(
            "least(id, other) AS src",
            "greatest(id, other) AS dst",
            "false AS capped",
        )
    )
    big = win.filter(f"n > {bucket_cap}")
    stars = big.filter(
        f"(is_new OR n_old <= {bucket_cap}) AND id != mn"
    ).selectExpr("mn AS src", "id AS dst")
    # a moved min is a new member: its own row carries the bridge, once
    # per bucket
    bridges = big.filter(
        f"n_old > {bucket_cap} AND id = mn AND mn != mn_old"
    ).selectExpr("mn AS src", "mn_old AS dst")
    p_big = stars.unionByName(bridges).selectExpr(
        "src", "dst", "true AS capped"
    )
    cands = (
        p_small.unionByName(p_big)
        .groupBy("src", "dst")
        .agg(F.max("capped").alias("capped"))
    )
    return cands, new_bands


def incremental_caption_resolve(
    new_features: DataFrame, prev_reps: DataFrame | None = None
) -> dict:
    """Step one of an incremental caption batch: each batch caption sha
    resolves to its representative, the FIRST-SEEN one (``prev_reps``,
    the (caption_sha, rep) index as of the previous batch, None for the
    first) or, for a new sha, the batch-min id. ``prev_reps`` may be a
    pruned view covering AT LEAST the index rows under the batch's
    shas: the left join drops every other row.

    Returns ``resolved`` (caption_sha, rep, is_new_rep, bands),
    localCheckpoint-materialized, and the two index deltas it alone
    determines: ``new_reps`` (caption_sha, rep) and ``new_bands`` (id,
    band, key) of the new reps. The deltas are projections of the
    checkpoint, so they can be written while step two
    (``incremental_caption_cluster``) reads the same checkpoint."""
    f = new_features.filter("caption_sha IS NOT NULL AND bands IS NOT NULL")
    batch_groups = f.groupBy("caption_sha").agg(
        F.min("image_id").alias("batch_rep"),
        F.any_value("bands").alias("bands"),
    )
    if prev_reps is not None:
        resolved = batch_groups.join(
            prev_reps, "caption_sha", "left"
        ).selectExpr(
            "caption_sha",
            "coalesce(rep, batch_rep) AS rep",
            "rep IS NULL AS is_new_rep",
            "bands",
        )
    else:
        resolved = batch_groups.selectExpr(
            "caption_sha",
            "batch_rep AS rep",
            "true AS is_new_rep",
            "bands",
        )
    resolved = resolved.localCheckpoint()
    new_reps = resolved.filter("is_new_rep")
    return dict(
        resolved=resolved,
        new_reps=new_reps.select("caption_sha", "rep"),
        new_bands=_band_rows(new_reps.selectExpr("rep AS image_id", "bands")),
    )


def incremental_caption_cluster(
    new_features: DataFrame,
    resolved: DataFrame,
    captions_resolver,
    prev_bands: DataFrame | None = None,
    prev_assign: DataFrame | None = None,
) -> DataFrame:
    """Step two of an incremental caption batch: the caption_exact star
    edges (each batch member -> its rep), the near-dup candidates of
    the new reps against the band index, their verification, and the
    re-clustering of the components the new edges touch. Returns the
    new assignments (image_id, cluster_id), localCheckpoint-
    materialized.

    new_features: extract_features output for the NEW images only
    (image_id, caption_sha, bands, ...).
    resolved: step one's (``incremental_caption_resolve``) output.
    captions_resolver: callable (ids DataFrame with one ``image_id``
    column) -> (image_id, caption) frame covering AT LEAST those ids,
    old or new. Verification fetches captions only for the candidate
    pairs' endpoints instead of joining the whole corpus table — the
    corpus captions store is the FAT side of this chain (payload text),
    and the endpoint set is candidate-sized, so a shard-clustered store
    serves the fetch with row-group pruning
    (streaming/near_dup.pruned_caption_resolver) instead of two
    corpus-wide shuffles per batch. Candidates are eagerly materialized
    first so the resolver sees a concrete id set; extra rows the
    resolver returns are ignored (the verify join is by id).
    prev_bands (id, band, key): the LSH band index (reps only) as of
    the previous batch; prev_assign (image_id, cluster_id): its
    assignments. None for a first batch. Like ``prev_reps`` in step
    one, ``prev_bands`` may be a pruned view that covers AT LEAST the
    index rows under the batch's band keys (a bloom-pruned read has no
    false negatives): the semi join drops every other row, so a pruned
    view behaves exactly like the full index.

    Matches the batch pipeline exactly while no bucket crosses the cap
    (tests pin equality with a full recompute on sub-cap corpora):
    identical captions collapse to the FIRST-SEEN rep (new shas use the
    batch-min id), only new reps add band rows, candidates touch at
    least one new rep, and only affected components re-cluster
    (operators/connected_components.incremental_clusters). Buckets that
    cross the cap (``lsh.DEFAULT_BUCKET_CAP``) make the CANDIDATE
    enumeration arrival-order dependent (a bucket capped mid-history
    keeps the all-pairs candidates its earlier, smaller self emitted; a
    one-shot recompute caps them all) — verification still gates every
    candidate, so the difference is bounded recall variation on capped
    buckets, never a false merge. The batch path has the same property
    across re-runs with different batch splits."""
    from ..operators.connected_components import (
        connected_components,
        incremental_clusters,
    )
    from ..operators.verify import verify_caption_pairs

    # caption_exact star edges: every new member -> its (possibly old) rep
    star = (
        new_features.filter("caption_sha IS NOT NULL AND bands IS NOT NULL")
        .select("image_id", "caption_sha")
        .join(resolved.select("caption_sha", "rep"), "caption_sha")
        .filter("image_id != rep")
        .selectExpr("rep AS src", "image_id AS dst")
    )
    cands, _ = incremental_caption_candidates(
        resolved.filter("is_new_rep").selectExpr("rep AS image_id", "bands"),
        prev_bands,
    )
    # materialize the (candidate-sized) pair set so the resolver sees a
    # concrete endpoint id list — without the cut the resolver's shard
    # collect AND the verify join would each re-run the whole candidate
    # enumeration
    cands = cands.localCheckpoint(eager=True)
    endpoint_ids = (
        cands.selectExpr("src AS image_id")
        .unionByName(cands.selectExpr("dst AS image_id"))
        .distinct()
    )
    near = verify_caption_pairs(
        cands.select("src", "dst", "capped"),
        captions_resolver(endpoint_ids),
    ).select("src", "dst")
    # two consumers (the clustering's edge collect and its touched /
    # untouched split): materialize once, or each re-runs the star join
    # and the verify UDF
    new_edges = star.unionByName(near).localCheckpoint()
    assign = (
        incremental_clusters(prev_assign, new_edges)
        if prev_assign is not None
        else connected_components(new_edges)
    )
    return assign.localCheckpoint()


def run_states(
    features: DataFrame, run_id: str, location_col=None
) -> DataFrame:
    """Append-only state rows for this run (feeds states.derive_status)."""
    loc = location_col if location_col is not None else F.concat(
        F.lit("corpus/"), F.col("image_id")
    )
    return features.select(
        "image_id",
        F.lit(run_id).alias("run_id"),
        "size",
        F.unhex("sha").alias("sha"),
        F.when(F.col("status") != "ok", F.col("status"))
        .otherwise(F.lit("new"))
        .alias("status"),
        loc.alias("location"),
        F.lit("original").alias("sort"),
    )
