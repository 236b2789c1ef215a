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
``incremental_caption_candidates`` / ``incremental_caption_run`` are the
fully incremental LSH refinement: an append-only band index read through
a batch-key semi join, candidates only for pairs a new doc completes, and
re-clustering only of components the new edges touch
(operators/connected_components.incremental_clusters).

Status derivation (CDC) comes from operators/states.derive_status over the
append-only states rows each run emits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.features import extract_features


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


def incremental_caption_candidates(
    new_features: DataFrame,
    prev_bands: DataFrame | None,
    bucket_cap: int = 256,
) -> tuple[DataFrame, DataFrame]:
    """-> (candidate pairs touching a NEW doc, band rows for new docs).

    Incremental LSH: the stored band index (id, band, key) grows append-
    only; a batch's candidates are pairs within the batch plus
    batch-vs-index joins — old-old pairs were already emitted by earlier
    runs, so each pair is discovered exactly once, by the batch that
    completes it. Bucket caps are enforced on the COMBINED bucket size
    (index + batch), mirroring operators/lsh.pairs_from_buckets.

    Per-batch cost shape: the index is only read through a semi join on
    the batch's band keys (pruned scan, no index-wide shuffle — the old
    formulation aggregated the ENTIRE index every batch), and over-cap
    buckets pay O(batch), not O(bucket):

    - a bucket the batch pushes over the cap stars ALL members (old and
      new) to the combined min — paid once, at the transition;
    - a bucket that was ALREADY over cap stars only the batch's new
      members to the combined min, plus one bridge edge old-min -> new
      min when the min moved, so the star centers chain together. The
      old members were starred when the bucket first crossed the cap.

    Exact-duplicate captions collapse upstream (the caller emits
    caption_exact star edges from caption_sha groups), so the band index
    holds representatives — identical-caption skew never reaches the
    join, same as the batch pipeline."""
    new_bands = (
        new_features.filter(F.col("bands").isNotNull())
        .select(
            F.col("image_id").alias("id"),
            F.posexplode("bands").alias("band", "key"),
        )
    )
    batch_stats = new_bands.groupBy("band", "key").agg(
        F.count(F.lit(1)).alias("n_new"), F.min("id").alias("mn_new")
    )
    if prev_bands is not None:
        # index members of batch-touched buckets only: semi join on the
        # batch's (band, key) set — a pruned scan of the index (AQE
        # broadcasts the batch side when it is small), never an
        # index-wide aggregate. Checkpoint: three consumers below.
        old_touched = prev_bands.join(
            new_bands.select("band", "key").distinct(),
            ["band", "key"],
            "left_semi",
        ).localCheckpoint()
        prev_stats = old_touched.groupBy("band", "key").agg(
            F.count(F.lit(1)).alias("n_old"), F.min("id").alias("mn_old")
        )
        stats = batch_stats.join(prev_stats, ["band", "key"], "left")
    else:
        old_touched = None
        stats = batch_stats.select(
            "band", "key", "n_new", "mn_new",
            F.lit(None).cast("long").alias("n_old"),
            F.lit(None).cast("string").alias("mn_old"),
        )
    stats = (
        stats.select(
            "band",
            "key",
            (F.col("n_new") + F.coalesce("n_old", F.lit(0))).alias("n"),
            F.least("mn_new", "mn_old").alias("mn"),  # least skips nulls
            F.coalesce("n_old", F.lit(0)).alias("n_old"),
            "mn_old",
        )
        .filter(F.col("n") >= 2)
    )
    nb = new_bands.join(stats, ["band", "key"]).localCheckpoint()
    small_new = nb.filter(F.col("n") <= bucket_cap)
    small_old = (
        old_touched.join(
            stats.filter(F.col("n") <= bucket_cap).select("band", "key"),
            ["band", "key"],
            "left_semi",
        ).select("band", "key", F.col("id").alias("other"))
        if old_touched is not None
        else None
    )
    small_all = small_new.select("band", "key", F.col("id").alias("other"))
    if small_old is not None:
        small_all = small_all.unionByName(small_old)
    # pair each new member against every bucket member (old or new);
    # least/greatest collapses the doubled new-new direction, the final
    # groupBy collapses multi-band agreement
    p_small = (
        small_new.join(small_all.hint("shuffle_hash"), ["band", "key"])
        .where(F.col("id") != F.col("other"))
        .select(
            F.least("id", "other").alias("src"),
            F.greatest("id", "other").alias("dst"),
            F.lit(False).alias("capped"),
        )
    )
    # over-cap buckets: batch members always star to the combined min
    star_new = (
        nb.filter((F.col("n") > bucket_cap) & (F.col("id") != F.col("mn")))
        .select(F.col("mn").alias("src"), F.col("id").alias("dst"))
    )
    p_big = star_new
    if old_touched is not None:
        trans_keys = stats.filter(
            (F.col("n") > bucket_cap) & (F.col("n_old") <= bucket_cap)
        ).select("band", "key", "mn")
        star_old_transition = (
            old_touched.join(trans_keys, ["band", "key"])
            .filter(F.col("id") != F.col("mn"))
            .select(F.col("mn").alias("src"), F.col("id").alias("dst"))
        )
        bridge = stats.filter(
            (F.col("n") > bucket_cap)
            & (F.col("n_old") > bucket_cap)
            & F.col("mn_old").isNotNull()
            & (F.col("mn_old") != F.col("mn"))
        ).select(F.col("mn").alias("src"), F.col("mn_old").alias("dst"))
        p_big = p_big.unionByName(star_old_transition).unionByName(bridge)
    p_big = p_big.select("src", "dst", F.lit(True).alias("capped"))
    cands = (
        p_small.unionByName(p_big)
        .groupBy("src", "dst")
        .agg(F.max("capped").alias("capped"))
    )
    return cands, new_bands


def incremental_caption_run(
    new_features: DataFrame,
    captions_resolver,
    state: dict | None = None,
    bucket_cap: int = 256,
    jaccard_threshold: float = 0.5,
) -> dict:
    """One incremental batch of the caption near-dup pipeline.

    new_features: extract_features output for the NEW images only
    (image_id, caption_sha, bands, ...).
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
    state: the index as of the previous batch, or None for the first:
      reps    (caption_sha, rep)   exact-caption representative index
      bands   (id, band, key)      LSH band index (reps only)
      assign  (image_id, cluster_id) current assignments
    ``reps``/``bands`` may be pruned views that cover AT LEAST the index
    rows under the batch's shas and band keys (a bloom-pruned read has no
    false negatives): the left join / semi join below drop every other
    row, so a pruned view behaves exactly like the full index.

    Returns ``assign`` (the new assignments) and the index deltas to
    persist: ``new_reps`` and ``new_bands``.

    Matches the batch pipeline exactly while no bucket crosses the cap
    (tests pin equality with a full recompute on sub-cap corpora):
    identical captions collapse to the FIRST-SEEN rep (new shas use the
    batch-min id), only new reps add band rows, candidates touch at
    least one new rep, and only affected components re-cluster
    (operators/connected_components.incremental_clusters). Buckets that
    cross ``bucket_cap`` make the CANDIDATE enumeration arrival-order
    dependent (a bucket capped mid-history keeps the all-pairs
    candidates its earlier, smaller self emitted; a one-shot recompute
    caps them all) — verification still gates every candidate, so the
    difference is bounded recall variation on capped buckets, never a
    false merge. The batch path has the same property across re-runs
    with different batch splits."""
    from ..operators.connected_components import (
        connected_components,
        incremental_clusters,
    )
    from ..operators.verify import verify_caption_pairs

    prev_reps = state["reps"] if state else None
    prev_bands = state["bands"] if state else None
    prev_assign = state["assign"] if state else None

    f = new_features.filter(
        F.col("caption_sha").isNotNull() & F.col("bands").isNotNull()
    )
    batch_groups = f.groupBy("caption_sha").agg(
        F.min("image_id").alias("batch_rep"),
        F.any_value("bands").alias("bands"),
    )
    if prev_reps is not None:
        joined = batch_groups.join(prev_reps, "caption_sha", "left")
        resolved = joined.select(
            "caption_sha",
            F.coalesce("rep", "batch_rep").alias("rep"),
            F.col("rep").isNull().alias("is_new_rep"),
            "batch_rep",
            "bands",
        )
    else:
        resolved = batch_groups.select(
            "caption_sha",
            F.col("batch_rep").alias("rep"),
            F.lit(True).alias("is_new_rep"),
            "batch_rep",
            "bands",
        )
    resolved = resolved.localCheckpoint()
    # caption_exact star edges: every new member -> its (possibly old) rep
    star = (
        f.select("image_id", "caption_sha")
        .join(resolved.select("caption_sha", "rep"), "caption_sha")
        .filter(F.col("image_id") != F.col("rep"))
        .select(F.col("rep").alias("src"), F.col("image_id").alias("dst"))
    )
    new_rep_feats = resolved.filter("is_new_rep").select(
        F.col("rep").alias("image_id"), "bands"
    )
    cands, new_band_rows = incremental_caption_candidates(
        new_rep_feats, prev_bands, bucket_cap=bucket_cap
    )
    # materialize the (candidate-sized) pair set so the resolver sees a
    # concrete endpoint id list — without the cut the resolver's shard
    # collect AND the verify join would each re-run the whole candidate
    # enumeration
    cands = cands.localCheckpoint(eager=True)
    endpoint_ids = (
        cands.select(F.col("src").alias("image_id"))
        .unionByName(cands.select(F.col("dst").alias("image_id")))
        .distinct()
    )
    near = verify_caption_pairs(
        cands.select("src", "dst", "capped"),
        captions_resolver(endpoint_ids),
        jaccard_threshold=jaccard_threshold,
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
    assign = assign.localCheckpoint()
    new_reps = resolved.filter("is_new_rep").select("caption_sha", "rep")
    return dict(
        assign=assign,
        new_reps=new_reps,
        new_bands=new_band_rows.localCheckpoint(),
    )


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
