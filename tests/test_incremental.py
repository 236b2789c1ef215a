"""Incremental runs: only unseen ids pay extraction; clusters match a
full recompute."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ordinarydumpdeduplicator_spark.operators.connected_components import (
    connected_components,
)
from ordinarydumpdeduplicator_spark.operators.exact_dedup import exact_edges
from ordinarydumpdeduplicator_spark.operators.features import extract_features
from ordinarydumpdeduplicator_spark.plans.incremental import (
    incremental_caption_candidates,
    incremental_features,
)
from tests.conftest import to_spark_images


def _clusters(feats):
    edges = exact_edges(feats)
    return {
        r["image_id"]: r["cluster_id"]
        for r in connected_components(edges.select("src", "dst")).collect()
    }


def test_incremental_matches_full(spark, tiny_corpus):
    pdf, _ = tiny_corpus
    first = to_spark_images(spark, pdf.iloc[:150])
    full = to_spark_images(spark, pdf)  # 200 rows: 150 old + 50 new

    prev_feats, fresh0 = incremental_features(first, None)
    prev_feats = prev_feats.cache()
    assert fresh0.count() == 150

    feats2, fresh = incremental_features(full, prev_feats)
    assert fresh.count() == 50  # ONLY the 50 unseen ids were extracted
    assert feats2.count() == 200

    # cluster assignments identical to a from-scratch run
    assert _clusters(feats2.cache()) == _clusters(
        extract_features(full).cache()
    )


def test_incremental_drops_removed_ids(spark, tiny_corpus):
    pdf, _ = tiny_corpus
    first = to_spark_images(spark, pdf.iloc[:100])
    shrunk = to_spark_images(spark, pdf.iloc[25:100])  # 25 ids removed

    prev_feats, _ = incremental_features(first, None)
    feats2, fresh = incremental_features(shrunk, prev_feats.cache())
    assert fresh.count() == 0
    assert feats2.count() == 75
    kept_ids = {r["image_id"] for r in feats2.select("image_id").collect()}
    gone = set(pdf.iloc[:25]["image_id"])
    assert not (kept_ids & gone)


# ---------------------------------------------------- incremental LSH path


def _assign_dict(df):
    return {r["image_id"]: r["cluster_id"] for r in df.collect()}


def test_incremental_clusters_equals_full_cc(spark):
    """Splitting an edge stream into (initial CC + incremental batch)
    gives the same assignment as one CC over all edges."""
    import random

    from ordinarydumpdeduplicator_spark.operators.connected_components import (
        incremental_clusters,
    )

    rng = random.Random(7)
    nodes = [f"n{i:03d}" for i in range(120)]
    edges = [
        (min(a, b), max(a, b))
        for a, b in (
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(160)
        )
        if a != b
    ]
    half = len(edges) // 2
    mk = lambda rows: spark.createDataFrame(rows, "src string, dst string")
    full = connected_components(mk(edges))
    first = connected_components(mk(edges[:half]))
    incr = incremental_clusters(first, mk(edges[half:]))
    assert _assign_dict(incr) == _assign_dict(full)


def test_incremental_caption_run_equals_batch(spark, tiny_corpus):
    """Two incremental caption batches (resolve step, then cluster
    step, each) == the batch caption pipeline over the full corpus:
    same assignments, band index holds reps only, and only affected
    components re-cluster."""
    from ordinarydumpdeduplicator_spark.operators.lsh import (
        caption_candidates,
    )
    from ordinarydumpdeduplicator_spark.operators.verify import (
        verify_caption_pairs,
    )
    from ordinarydumpdeduplicator_spark.plans.incremental import (
        incremental_caption_cluster,
        incremental_caption_resolve,
    )

    pdf, _ = tiny_corpus
    full_images = to_spark_images(spark, pdf)
    caps = full_images.select("image_id", "caption").cache()

    # batch reference: caption family only (exact star + verified near)
    feats_all = extract_features(full_images).cache()
    pairs, star = caption_candidates(feats_all)
    near = verify_caption_pairs(pairs, full_images)
    ref = connected_components(
        star.select("src", "dst").unionByName(near.select("src", "dst"))
    )

    def batch(images, reps=None, bands=None, assign=None):
        feats = extract_features(images)
        out = incremental_caption_resolve(feats, reps)
        out["assign"] = incremental_caption_cluster(
            feats, out["resolved"], lambda ids: caps, bands, assign
        )
        return out

    s1 = batch(to_spark_images(spark, pdf.iloc[:120]))
    s2 = batch(to_spark_images(spark, pdf.iloc[120:]),
               s1["new_reps"], s1["new_bands"], s1["assign"])

    assert _assign_dict(s2["assign"]) == _assign_dict(ref)
    # band index holds one row-set per distinct caption rep, never members
    n_reps = s1["new_reps"].unionByName(s2["new_reps"]).count()
    bands = s1["new_bands"].unionByName(s2["new_bands"])
    assert bands.select("id").distinct().count() <= n_reps


def test_incremental_capped_bucket_delta_preserves_connectivity(spark):
    """Over-cap buckets: the transition batch stars ALL members once;
    later batches star only their new members (plus a min-bridge), and
    the resulting connectivity equals the batch path's star set."""
    from ordinarydumpdeduplicator_spark.plans.incremental import (
        incremental_caption_candidates,
    )

    def feats(ids):
        return spark.createDataFrame(
            [(i, [1]) for i in ids], "image_id string, bands array<long>"
        )

    cap = 2
    # batch 1 pushes the bucket straight over the cap -> full star to 'a'
    c1, bands1 = incremental_caption_candidates(
        feats(["a", "b", "c"]), None, bucket_cap=cap
    )
    got1 = {(r.src, r.dst) for r in c1.collect()}
    assert got1 == {("a", "b"), ("a", "c")}

    # batch 2: already-over bucket -> only new members star to the min
    c2, _ = incremental_caption_candidates(
        feats(["d", "e"]), bands1.localCheckpoint(), bucket_cap=cap
    )
    got2 = {(r.src, r.dst) for r in c2.collect()}
    assert got2 == {("a", "d"), ("a", "e")}

    # batch 3 brings a NEW bucket minimum: new members star to it and a
    # bridge edge chains the old star center to the new one
    all_bands = bands1.unionByName(
        feats(["d", "e"]).select(
            "image_id", "bands"
        ).selectExpr("image_id as id", "posexplode(bands) as (band, key)")
    )
    c3, _ = incremental_caption_candidates(
        feats(["_aa"]), all_bands.localCheckpoint(), bucket_cap=cap
    )
    got3 = {(r.src, r.dst) for r in c3.collect()}
    assert got3 == {("_aa", "a")}  # bridge only: _aa is the sole new member

    # union of all batches connects every member into one component,
    # exactly like the batch path's one-shot star set
    from ordinarydumpdeduplicator_spark.operators.connected_components import (
        uf_components,
    )

    comp = uf_components(sorted(got1 | got2 | got3))
    assert len(set(comp.values())) == 1


def _bucket_rule_oracle(old_rows, new_rows, cap):
    """The candidate rule of ``incremental_caption_candidates`` in pure
    Python, over (id, band, key) rows of the index and of the batch:
    {(src, dst): capped}, and how often each bucket case applied."""
    from collections import Counter, defaultdict

    buckets = defaultdict(lambda: ([], []))
    for i, band, key in old_rows:
        buckets[band, key][0].append(i)
    for i, band, key in new_rows:
        buckets[band, key][1].append(i)
    edges, cases = {}, Counter()
    for old, new in buckets.values():
        members = old + new
        if not new or len(members) < 2:
            continue
        mn = min(members)
        if len(members) <= cap:
            cases["small"] += 1
            got = {(min(a, b), max(a, b)) for a in new for b in members
                   if a != b}
        elif len(old) <= cap:
            cases["crossing"] += 1
            got = {(mn, x) for x in members if x != mn}
        else:
            got = {(mn, x) for x in new if x != mn}
            if mn != min(old):
                cases["capped_bridge"] += 1
                got.add((mn, min(old)))
            else:
                cases["capped"] += 1
        for e in got:
            edges[e] = edges.get(e, False) or len(members) > cap
    return edges, cases


@pytest.mark.parametrize("cap", [2, 3])
def test_incremental_caption_candidates_follow_the_bucket_rule(spark, cap):
    """Exact edge set and capped flags of ``incremental_caption_
    candidates`` against a pure-Python oracle of its four bucket cases
    (small, crossing the cap, already capped with a moved min, already
    capped without), on seeded random indexes and batches whose small
    key ranges make every case occur; and on a first batch (no index)."""
    import random

    n_bands = 3
    seen = set()
    for seed in range(3):
        rng = random.Random(seed)
        old_rows = [(f"m{i:02d}", b, rng.randrange(4))
                    for i in range(12) for b in range(n_bands)]
        # new ids below and above the index ids, so the min moves in
        # some buckets and stays in others
        new_ids = [f"{c}{seed}" for c in "aknxyz"]
        new_bands = {i: [rng.randrange(5) for _ in range(n_bands)]
                     for i in new_ids}
        new_rows = [(i, b, k) for i, ks in new_bands.items()
                    for b, k in enumerate(ks)]
        feats = spark.createDataFrame(
            list(new_bands.items()), "image_id string, bands array<long>"
        )
        index = spark.createDataFrame(old_rows, "id string, band int, key long")
        for prev, prev_rows in ((index, old_rows), (None, [])):
            cands, rows = incremental_caption_candidates(
                feats, prev, bucket_cap=cap
            )
            want, cases = _bucket_rule_oracle(prev_rows, new_rows, cap)
            seen |= set(cases)
            got = {(r.src, r.dst): r.capped for r in cands.collect()}
            assert got == want, (seed, prev is None, cases)
            assert sorted(map(tuple, rows.collect())) == sorted(new_rows)
    assert seen == {"small", "crossing", "capped_bridge", "capped"}, seen
