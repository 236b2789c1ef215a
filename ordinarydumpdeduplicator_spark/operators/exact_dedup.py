"""Exact-content duplicate grouping — the reference's core operator.

Reproduces ``DataControllerSimple.GetDuplicates``
(OrdinaryDumpDeduplicator/DataController/DataControllerSimple.cs:247-304):

    latest-inspection states  (P1 — done upstream in operators/states.py)
    -> filter readable:  size >= 0          (P2, :263-275)
    -> group by content key (size, sha)     (O1, :252-285)
    -> HAVING count > 1                     (O2, :288-301)

expressed as an aggregate over the content key plus an equi-join back
to the rows — no collect_list of members (the reference builds
`BlobInfo -> set<File>` dictionaries; at 10^12 rows a per-group member
list would OOM, so the cluster id IS the min member id and membership
stays row-wise) and no window: the aggregate combines map side before
the exchange, a window would shuffle every row. Spark 4.1 plans ``min``
over the string id as a SortAggregate, so the group keys are sorted
within each partition on both sides of the exchange.
tests/test_plans.py pins that no ``bytes`` column enters the exchange.

The pipeline runs every exact-key family through ONE such aggregate,
``key_groups``: each feature row becomes at most four ``(kind, key)``
entries — the byte key (size, sha), the pixel key (w_actual, h_actual,
pixel_sha), the normalized-caption key and the exact-phash key — and one
``groupBy(kind, key)`` plus one join back yields the star edges of all four
families and the caption/phash representatives that feed LSH banding
(operators/lsh.py). ``exact_clusters``/``exact_edges``/``pixel_exact_edges``
stay as the single-family reference implementations the tests compare it
with.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


_READABLE = "size >= 0 AND sha IS NOT NULL"


def _is_readable() -> Column:
    return F.expr(_READABLE)


def readable(features: DataFrame) -> DataFrame:
    """P2/P3: drop Broken-sentinel rows (size<0 / missing sha) exactly as
    the reference's `blobInfo.Size >= 0` guard (DataControllerSimple.cs:265)."""
    return features.filter(_is_readable())


def exact_clusters(features: DataFrame, require_dupes: bool = True) -> DataFrame:
    """(image_id, size, sha) -> (image_id, cluster_id, n_members, size, sha).

    cluster_id = min(image_id) within the content-key group; with
    require_dupes (HAVING n>1) singletons are dropped — duplicate groups
    only, as GetDuplicates returns (DataControllerSimple.cs:288-301).

    Plan shape: aggregate group stats + equi-join back, instead of a
    window — the aggregate combines map side (a SortAggregate in Spark
    4.1, ``min`` over a string id). The explicit repartition on the
    content key feeds both the aggregate and the join probe side from ONE
    exchange (scan + sha run once); shuffle_hash keeps the join
    sort-free."""
    rows = readable(features).select("image_id", "size", "sha").repartition(
        "size", "sha"
    )
    groups = rows.groupBy("size", "sha").agg(
        F.min("image_id").alias("cluster_id"),
        F.count(F.lit(1)).alias("n_members"),
    )
    if require_dupes:
        groups = groups.filter(F.col("n_members") > 1)
    return rows.join(groups.hint("shuffle_hash"), ["size", "sha"]).select(
        "image_id", "size", "sha", "cluster_id", "n_members"
    )


def exact_edges(features: DataFrame) -> DataFrame:
    """Star edges (member -> min member) within each exact group: the
    linear-size edge representation of each duplicate clique, fed to
    connected components alongside near-dup edges."""
    c = exact_clusters(features, require_dupes=True)
    return (
        c.filter(F.col("image_id") != F.col("cluster_id"))
        .select(
            F.col("cluster_id").alias("src"),
            F.col("image_id").alias("dst"),
            F.lit("exact").alias("kind"),
        )
    )


def pixel_exact_edges(features: DataFrame) -> DataFrame:
    """Star edges for CONTAINER-INSENSITIVE exact duplicates: groups keyed
    by (w_actual, h_actual, pixel_sha) over the decoded pixel buffer.

    Catches what the byte key (size, sha) cannot: the same pixels stored
    in different lossless containers (png vs bmp) or with different
    encoder metadata. No reference analogue — the reference only ever
    hashes raw bytes (Common/FsUtils.cs:39-54); for an image corpus the
    pixel identity is the operationally useful exact key. Same
    aggregate + equi-join shape as exact_clusters."""
    rows = features.filter(F.col("pixel_sha").isNotNull()).select(
        "image_id", "w_actual", "h_actual", "pixel_sha"
    ).repartition("w_actual", "h_actual", "pixel_sha")
    key = ["w_actual", "h_actual", "pixel_sha"]
    groups = (
        rows.groupBy(*key)
        .agg(F.min("image_id").alias("mn"), F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )
    return (
        rows.join(groups.hint("shuffle_hash"), key)
        .filter(F.col("image_id") != F.col("mn"))
        .select(
            F.col("mn").alias("src"),
            F.col("image_id").alias("dst"),
            F.lit("pixel_exact").alias("kind"),
        )
    )


def _key_entry(
    kind: str, guard: str, *parts: str, bands: str = "CAST(NULL AS ARRAY<BIGINT>)"
) -> str:
    """One ``(kind, key, bands)`` entry as SQL, NULL where the family's
    guard fails. The key parts are joined with ':'. Every part is non-null
    under its guard and every part but the last is an integer, so the
    string key is injective within a kind."""
    key = ", ".join(f"CAST({p} AS STRING)" for p in parts)
    return (
        f"CASE WHEN {guard} THEN named_struct("
        f"'kind', '{kind}', 'key', concat_ws(':', {key}), 'bands', {bands}) END"
    )


# Each family's guard: readable bytes, a decoded pixel buffer, a non-empty
# caption (caption_sha and bands are null together), a decoded phash.
_KEY_ENTRIES = ", ".join(
    (
        _key_entry("exact", _READABLE, "size", "sha"),
        _key_entry(
            "pixel_exact",
            "pixel_sha IS NOT NULL AND w_actual IS NOT NULL AND h_actual IS NOT NULL",
            "w_actual",
            "h_actual",
            "pixel_sha",
        ),
        _key_entry(
            "caption_exact",
            "caption_sha IS NOT NULL AND bands IS NOT NULL",
            "caption_sha",
            bands="bands",
        ),
        _key_entry("phash_exact", "phash_v IS NOT NULL", "phash_v"),
    )
)


def key_groups(features: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Every exact-key family through ONE aggregate.

    Returns ``(star, caption_reps, phash_reps)``:

    - ``star`` (src, dst, kind): member -> min-member edges of every group
      with more than one member, ``kind`` one of exact / pixel_exact /
      caption_exact / phash_exact — the union of exact_edges,
      pixel_exact_edges and the two LSH pre-grouping stars.
    - ``caption_reps`` (id, bands): one row per distinct caption_sha, the
      min member with its LSH band keys (identical captions carry
      identical bands, so any_value is exact).
    - ``phash_reps`` (id, phash): one row per distinct phash_v.

    Each family keeps its own guard: readable bytes for ``exact``, a
    decoded pixel buffer for ``pixel_exact``, a non-empty caption for
    ``caption_exact`` (caption_sha and bands are null together), a decoded
    phash for ``phash_exact``. Plan shape as exact_clusters: one exchange
    on (kind, key) feeds the aggregate and the join probe side, so four
    families cost one shuffle instead of four aggregate-and-join chains
    (and the jobs each chain submits).

    The expressions are SQL strings: the entry array is one call into the
    JVM parser, not a few hundred py4j round trips for Column calls."""
    entries = (
        # the star filter below implies a non-null id on the probe side;
        # stating it here too keeps the aggregate side's plan identical,
        # so both sides read ONE reused exchange
        features.filter("image_id IS NOT NULL")
        .selectExpr("image_id", f"explode(array({_KEY_ENTRIES})) AS e")
        .filter("e IS NOT NULL")
        .selectExpr("image_id", "e.*")
        .repartition("kind", "key")
    )
    groups = entries.groupBy("kind", "key").agg(
        F.expr("min(image_id) AS mn"),
        F.expr("count(1) AS n"),
        F.expr("any_value(bands) AS bands"),
    )
    star = (
        entries.select("image_id", "kind", "key")
        .join(
            groups.filter("n > 1").select("kind", "key", "mn").hint("shuffle_hash"),
            ["kind", "key"],
        )
        .filter("image_id != mn")
        .selectExpr("mn AS src", "image_id AS dst", "kind")
    )
    caption_reps = groups.filter("kind = 'caption_exact'").selectExpr(
        "mn AS id", "bands"
    )
    phash_reps = groups.filter("kind = 'phash_exact'").selectExpr(
        "mn AS id", "CAST(key AS BIGINT) AS phash"
    )
    return star, caption_reps, phash_reps
