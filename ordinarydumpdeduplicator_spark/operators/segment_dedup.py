"""Generic segment-hash dedup: the modality-agnostic core shared by the
video (per-frame pHash) and audio (per-segment spectral hash) dedup
chains. A "fingerprint frame" is any DataFrame with

  (<id_col> string, status string, file_sha string,
   <hashes_col> array<long>)

— one row per media item, one 64-bit perceptual hash per sampled
segment. Everything here is built-ins end-to-end (explode + bit slicing
for LSH banding, higher-order array expressions + bit_count for verify),
so after the modality's decode pass nothing leaves whole-stage codegen.

Edge families produced (strongest identity first, for
tiers.tier_attribution):

  exact             byte-identical file (sha256 over the raw payload)
  <prefix>_exact    identical ordered segment-hash signature (re-mux /
                    re-encode: container bytes differ, content doesn't)
  <prefix>_near     verified near duplicate — banded segment-hash LSH
                    candidates, symmetric segment-match fraction >=
                    threshold (trims, noise, light re-quantization)

Scale shape (the 100 TB question): only (id, <= n segment hashes) rows
ever shuffle — ~100 bytes per item regardless of payload size.
Candidates come through lsh.pairs_from_buckets (bucket caps with
star-edge fallback + `capped` marker), so pair volume is bounded; each
64-bit hash splits into ``bands`` sub-keys, guaranteeing any segment
pair within Hamming < bands shares a bucket (pigeonhole). Verify cost is
linear in candidate count (<= n_segments^2 64-bit XORs per pair, inside
codegen). The CC edge frame is orders of magnitude below corpus size.

No reference analogue: the reference hashes every file as one opaque
byte stream (Common/FsUtils.cs:39-54), so re-encoded media is invisible
to it — this is the tier cascade (operators/tiers.py) extended to
content identity under re-encoding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .connected_components import connected_components
from .lsh import cap_reference_buckets, pairs_from_buckets
from .segment_synth import (
    SEG_BANDS,
    SEG_BUCKET_CAP,
    SEG_MAX_HAMMING,
    SEG_MIN_MATCH_FRAC,
    SEG_REF_BUCKET_CAP,
)
from .tiers import tier_attribution


def tier_precedence(prefix: str) -> list[str]:
    """Strongest identity first — same contract as
    tiers.IMAGE_TIER_PRECEDENCE."""
    return ["exact", f"{prefix}_exact", f"{prefix}_near"]


def band_slices(h, bands: int):
    """array<struct<band,key>>: a 64-bit hash split into ``bands``
    disjoint bit slices. Two hashes within Hamming < bands share at
    least one slice (pigeonhole). Pure built-ins
    (shiftrightunsigned/AND), whole-stage codegen."""
    assert 64 % bands == 0, "bands must divide 64"
    width = 64 // bands
    mask = (1 << width) - 1
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(h, b * width)
                .bitwiseAND(F.lit(mask))
                .alias("key"),
            )
            for b in range(bands)
        ]
    )


def segment_band_rows(
    fps: DataFrame,
    bands: int,
    id_col: str = "video_id",
    hashes_col: str = "frame_hashes",
) -> DataFrame:
    """Fingerprints -> distinct (id, band, key) LSH rows: every sampled
    segment hash split into ``bands`` disjoint bit slices (candidate
    recall guaranteed within Hamming < bands, see band_slices). Segment
    position is deliberately NOT part of the key — a trimmed copy's
    surviving segments still collide. distinct bounds an item's bucket
    contributions."""
    return (
        fps.filter(F.col(hashes_col).isNotNull())
        .select(id_col, F.explode(hashes_col).alias("h"))
        .select(id_col, F.explode(band_slices(F.col("h"), bands)).alias("s"))
        .select(id_col, F.col("s.band").alias("band"),
                F.col("s.key").alias("key"))
        .distinct()
    )


def match_frac_expr(ha, hb, max_hamming: int):
    """Column expression: symmetric segment-match fraction
    (|a-segments with a Hamming<=r match in b| + |b-segments with a
    match in a|) / (|a| + |b|). Robust to trims and segment drops — an
    identical copy scores 1.0, a half-trimmed copy ~2/3.

    Pure built-ins (higher-order array filter/exists + bit_count on the
    XOR), so the verify stays inside whole-stage codegen — no Arrow
    round-trip for <= n_segments^2 64-bit popcounts per pair."""
    ha, hb = F.col(ha) if isinstance(ha, str) else ha, (
        F.col(hb) if isinstance(hb, str) else hb
    )
    r = F.lit(max_hamming)

    def matched(xs, ys):
        return F.size(
            F.filter(
                xs,
                lambda x: F.exists(
                    ys, lambda y: F.bit_count(x.bitwiseXOR(y)) <= r
                ),
            )
        )

    return (matched(ha, hb) + matched(hb, ha)) / (F.size(ha) + F.size(hb))


def segment_near_pairs(
    fps: DataFrame,
    bands: int,
    max_hamming: int,
    min_match_frac: float,
    bucket_cap: int,
    id_col: str = "video_id",
    hashes_col: str = "frame_hashes",
) -> DataFrame:
    """Fingerprints -> verified near-dup pairs
    (src, dst, match_frac, capped), src < dst.

    Candidate generation reuses lsh.pairs_from_buckets (hash-agg bucket
    stats, caps + star-edge fallback, shuffle-hash self-join — the exact
    machinery the text/caption chains run at scale); verification is
    verify_segment_pairs (codegen; zero UDFs). The fingerprint frame is
    tiny relative to any real corpus, so AQE broadcasts it into the
    verify joins."""
    cand = pairs_from_buckets(
        segment_band_rows(
            fps, bands=bands, id_col=id_col, hashes_col=hashes_col
        ),
        id_col=id_col,
        bucket_cap=bucket_cap,
    )
    return verify_segment_pairs(
        cand, fps, fps, id_col, hashes_col, max_hamming, min_match_frac
    ).select("src", "dst", "match_frac", "capped")


def verify_segment_pairs(
    cands: DataFrame,
    src_fps: DataFrame,
    dst_fps: DataFrame,
    id_col: str,
    hashes_col: str,
    max_hamming: int,
    min_match_frac: float,
) -> DataFrame:
    """Candidate pairs (src, dst, ...) -> those whose match_frac_expr
    reaches ``min_match_frac``, plus a ``match_frac`` column; ``src``
    hashes come from ``src_fps``, ``dst`` hashes from ``dst_fps``."""

    def hashes(fps: DataFrame, key: str, h: str) -> DataFrame:
        return fps.filter(F.col(hashes_col).isNotNull()).select(
            F.col(id_col).alias(key), F.col(hashes_col).alias(h)
        )

    # SHUFFLE_HASH on the join-backs: without the hint Catalyst picks
    # SortMergeJoin and SORTS the fingerprint frame twice (measured in
    # BENCH/plans.md) — the hash arrays are ~100 B/row, so a shuffled
    # hash join builds tiny per-partition maps and nothing sorts
    return (
        cands.join(hashes(src_fps, "src", "ha").hint("shuffle_hash"), "src")
        .join(hashes(dst_fps, "dst", "hb").hint("shuffle_hash"), "dst")
        .withColumn("match_frac", match_frac_expr("ha", "hb", max_hamming))
        .filter(F.col("match_frac") >= min_match_frac)
        .drop("ha", "hb")
    )


def star_edges(
    rows: DataFrame, key_cols: list[str], kind: str, id_col: str
) -> DataFrame:
    """Star edges (hub member -> member) within each multi-member group
    keyed by ``key_cols`` — the linear-size clique representation.

    Hub selection is a TWO-phase numeric aggregate: ``min(string)`` has a
    var-length aggregation buffer, which forces SortAggregate — a
    per-partition sort of the ENTIRE fingerprint frame by the group key
    (measured in the executed plan). Aggregating ``min(xxhash64(id))``
    stays HashAggregate; the hub's actual id string is then resolved on
    the hash-min candidate frame (~1 row per multi-member group, min(id)
    tie-breaks the negligible within-group hash collisions — its
    SortAggregate touches only that tiny frame). The hub choice is
    arbitrary-but-deterministic; connected components relabels with the
    component-min id regardless, so cluster output is hub-invariant.
    Explicit repartition on the key feeds the aggregate and both join
    probes from ONE exchange (exact_dedup.exact_clusters' pattern)."""
    rows = rows.withColumn("_h", F.xxhash64(id_col)).repartition(*key_cols)
    groups = (
        rows.groupBy(*key_cols)
        .agg(F.min("_h").alias("_hmin"), F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )
    hubs = (
        rows.join(groups.hint("shuffle_hash"), key_cols)
        .filter(F.col("_h") == F.col("_hmin"))
        .groupBy(*key_cols)
        .agg(F.min(id_col).alias("mn"))
    )
    return (
        rows.join(hubs.hint("shuffle_hash"), key_cols)
        .filter(F.col(id_col) != F.col("mn"))
        .select(
            F.col("mn").alias("src"),
            F.col(id_col).alias("dst"),
            F.lit(kind).alias("kind"),
        )
    )


def segment_edges(
    fps: DataFrame,
    id_col: str = "video_id",
    hashes_col: str = "frame_hashes",
    prefix: str = "frame",
    *,
    bands: int,
    max_hamming: int,
    min_match_frac: float,
    bucket_cap: int,
) -> DataFrame:
    """All three edge families over one fingerprint frame, tagged with
    `kind` for tier attribution (precedence: tier_precedence(prefix));
    the near family is ``segment_near_pairs`` with the given knobs."""
    exact = star_edges(
        fps.filter(F.col("file_sha").isNotNull()).select(id_col, "file_sha"),
        ["file_sha"],
        "exact",
        id_col,
    )
    # ordered segment signature: ',' never occurs in a decimal int64, so
    # concat_ws is injective on hash sequences
    seg_sig = fps.filter(F.col("status") == "ok").select(
        id_col,
        F.sha2(
            F.concat_ws(
                ",",
                F.transform(F.col(hashes_col), lambda x: x.cast("string")),
            ),
            256,
        ).alias("sig"),
    )
    seg_exact = star_edges(seg_sig, ["sig"], f"{prefix}_exact", id_col)
    near = segment_near_pairs(
        fps.filter(F.col("status") == "ok"),
        bands=bands,
        max_hamming=max_hamming,
        min_match_frac=min_match_frac,
        bucket_cap=bucket_cap,
        id_col=id_col,
        hashes_col=hashes_col,
    ).select("src", "dst", F.lit(f"{prefix}_near").alias("kind"))
    return exact.unionByName(seg_exact).unionByName(near)


def segment_dedup_report(
    fps: DataFrame,
    id_col: str = "video_id",
    hashes_col: str = "frame_hashes",
    prefix: str = "frame",
    bands: int = SEG_BANDS,
    max_hamming: int = SEG_MAX_HAMMING,
    min_match_frac: float = SEG_MIN_MATCH_FRAC,
    bucket_cap: int = SEG_BUCKET_CAP,
) -> dict[str, DataFrame]:
    """Fingerprints -> tagged edges, cluster assignment for EVERY item
    (singletons -> themselves), and per-item tier attribution
    (exact / <prefix>_exact / <prefix>_near / canonical / unique).

    The fingerprint frame is cut lazily here (it feeds six consumers),
    the edge frame in cluster_report; without the cuts each consumer
    re-executes the upstream chain."""
    fps = fps.localCheckpoint(eager=False)
    edges = segment_edges(
        fps,
        id_col=id_col,
        hashes_col=hashes_col,
        prefix=prefix,
        bands=bands,
        max_hamming=max_hamming,
        min_match_frac=min_match_frac,
        bucket_cap=bucket_cap,
    )
    return cluster_report(fps, edges, id_col, tier_precedence(prefix))


def cluster_report(
    fps: DataFrame, edges: DataFrame, id_col: str, precedence: list[str]
) -> dict[str, DataFrame]:
    """The media reports' shared tail: CC over the tagged ``edges`` (cut
    lazily: CC and the tiers read them), a (<id_col>, cluster_id, is_dup)
    row for EVERY item of ``fps`` (singletons -> themselves) and the tier
    attribution under ``precedence``. Returns {"fingerprints", "edges",
    "clusters", "tiers"}."""
    edges = edges.localCheckpoint(eager=False)
    assign = connected_components(edges.select("src", "dst")).select(
        F.col("image_id").alias(id_col), "cluster_id"
    )
    clusters = (
        fps.select(id_col)
        # the assignment frame is dup-sized (orders of magnitude below
        # the corpus); shuffle_hash keeps the corpus side sort-free and
        # AQE still broadcasts it at runtime when small enough
        .join(assign.hint("shuffle_hash"), id_col, "left")
        .select(
            id_col,
            F.coalesce("cluster_id", id_col).alias("cluster_id"),
            F.col("cluster_id").isNotNull().alias("is_dup"),
        )
    )
    tiers = tier_attribution(clusters, edges, precedence, id_col=id_col)
    return {
        "fingerprints": fps,
        "edges": edges,
        "clusters": clusters,
        "tiers": tiers,
    }


def segment_novelty(
    batch_fps: DataFrame,
    ref_fps: DataFrame,
    id_col: str = "video_id",
    hashes_col: str = "frame_hashes",
    bands: int = SEG_BANDS,
    max_hamming: int = SEG_MAX_HAMMING,
    min_match_frac: float = SEG_MIN_MATCH_FRAC,
    ref_bucket_cap: int = SEG_REF_BUCKET_CAP,
) -> DataFrame:
    """Incremental media dedup: one row per BATCH item with its novelty
    verdict against a REFERENCE fingerprint snapshot — the media twin of
    cross_dedup.cross_corpus_matches (text) for ingest pipelines that
    hold yesterday's fingerprints as a materialized stage.

    Output: (<id_col>, match_ref_id, match_frac, is_novel) —
    match_ref_id is the smallest reference id whose item verified as a
    near-duplicate (byte-exact and re-encoded copies score 1.0 and are
    caught too, since identical hashes match at Hamming 0); NULL if none
    -> is_novel true. Batch items with no usable hashes (broken /
    unreadable) match nothing and are novel, same rule as the text chain.

    Scale shape: only CROSS-side candidate pairs are generated (batch
    bands join reference bands — never batch x batch or ref x ref); the
    reference side is bucket-capped with a min-id witness
    (lsh.cap_reference_buckets: hash-agg + join back, nothing sorts the
    band frames); verify is the codegen bit_count match fraction; the
    min-match argmin is one hash aggregate via min_by over (frac packed
    desc, ref_id asc)."""
    b_rows = segment_band_rows(
        batch_fps, bands=bands, id_col=id_col, hashes_col=hashes_col
    ).withColumnRenamed(id_col, "src")
    r_rows = cap_reference_buckets(
        segment_band_rows(
            ref_fps, bands=bands, id_col=id_col, hashes_col=hashes_col
        ).withColumnRenamed(id_col, "dst"),
        "dst",
        ref_bucket_cap,
    )
    cands = (
        b_rows.join(r_rows.hint("shuffle_hash"), ["band", "key"])
        .select("src", "dst")
        .dropDuplicates(["src", "dst"])
    )
    verified = verify_segment_pairs(
        cands, batch_fps, ref_fps, id_col, hashes_col, max_hamming,
        min_match_frac,
    )
    # smallest ref id among the BEST-matching refs per batch item: pack
    # (frac desc, id asc) into one min_by ordering — frac is a ratio of
    # small ints so 1e-9 quantization cannot reorder distinct values,
    # and the string id tie-break rides in the struct
    best = verified.groupBy("src").agg(
        F.min_by(
            F.struct("match_frac", "dst"),
            F.struct(
                (-F.col("match_frac")).alias("nf"), F.col("dst").alias("i")
            ),
        ).alias("m")
    )
    return (
        batch_fps.select(id_col)
        # `best` is candidate-volume-sized; shuffle_hash keeps the batch
        # side sort-free (AQE still broadcasts it when small)
        .join(
            best.withColumnRenamed("src", id_col).hint("shuffle_hash"),
            id_col,
            "left",
        )
        .select(
            id_col,
            F.col("m.dst").alias("match_ref_id"),
            F.col("m.match_frac").alias("match_frac"),
            F.col("m").isNull().alias("is_novel"),
        )
    )
