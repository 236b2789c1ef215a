"""End-to-end pipeline: dup-pair recall >= 0.99 vs planted golden pairs,
plus resumability (skip-if-complete stage checkpoints).
"""

import pytest
from pyspark.sql import functions as F

from ordinarydumpdeduplicator_spark.plans.pipeline import (
    NearDupPipeline,
    PipelineConfig,
)


@pytest.fixture(scope="module")
def pipeline_result(spark, small_images):
    pipe = NearDupPipeline(spark, PipelineConfig())
    return pipe.run(small_images)


def _recall(assignments_rows, golden):
    """fraction of golden pairs whose two ids share a predicted cluster."""
    cl = {r.image_id: r.cluster_id for r in assignments_rows}
    hit = total = 0
    misses = []
    for r in golden.itertuples():
        total += 1
        if cl.get(r.image_id_a) is not None and cl.get(r.image_id_a) == cl.get(
            r.image_id_b
        ):
            hit += 1
        else:
            misses.append((r.image_id_a, r.image_id_b, r.kind))
    return hit / max(total, 1), misses


def test_dup_pair_recall(spark, small_corpus, pipeline_result):
    _, golden = small_corpus
    rows = pipeline_result["clusters"].collect()
    recall, misses = _recall(rows, golden)
    assert recall >= 0.99, f"recall={recall:.4f}, sample misses: {misses[:10]}"


def test_no_false_merges_of_uniques(small_corpus, pipeline_result):
    """Planted unique rows must stay singletons."""
    pdf, _ = small_corpus
    uniques = set(pdf[pdf._class == "unique"].image_id)
    rows = pipeline_result["clusters"].collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r.image_id)
    merged = [
        ids for ids in by_cluster.values()
        if len(ids) > 1 and any(i in uniques for i in ids)
    ]
    # allow a tiny false-positive budget (phash collisions are possible in
    # principle) but the fixture is constructed to have none
    assert merged == [], f"uniques merged: {merged[:5]}"


def test_all_hashable_images_assigned(small_corpus, pipeline_result):
    # every row with BYTES gets a cluster assignment (undecodable payloads
    # hash and group; only missing payloads are excluded)
    pdf, _ = small_corpus
    n_null = pdf.bytes.isna().sum()
    expect = len(pdf) - n_null
    assert pipeline_result["clusters"].count() == expect


def test_cluster_id_is_min_member(pipeline_result):
    bad = (
        pipeline_result["clusters"]
        .groupBy("cluster_id")
        .agg(F.min("image_id").alias("mn"))
        .filter(F.col("cluster_id") != F.col("mn"))
        .count()
    )
    assert bad == 0


def test_image_tier_report(small_corpus, pipeline_result):
    """Per-image tier attribution: every image labeled once; dup groups
    have exactly one canonical head; byte-identical planted duplicates
    attribute to the strongest tier ('exact'); singletons are 'unique'."""
    from ordinarydumpdeduplicator_spark.operators.tiers import (
        IMAGE_TIER_PRECEDENCE,
    )

    # the shipped pipeline output, not a recomputation of the operator
    rows = pipeline_result["tier_report"].collect()
    assert len(rows) == pipeline_result["clusters"].count()
    allowed = set(IMAGE_TIER_PRECEDENCE) | {"canonical", "unique"}
    assert {r.tier for r in rows} <= allowed
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        heads = [m for m in members if m.tier == "canonical"]
        if len(members) > 1:
            assert len(heads) == 1, f"cluster {cid}: {len(heads)} heads"
        else:
            assert members[0].tier == "unique"
    # planted exact groups: every non-head member caught at the exact tier
    pdf, golden = small_corpus
    tier_of = {r.image_id: r.tier for r in rows}
    head_of = {r.image_id: r.cluster_id for r in rows}
    exact_pairs = golden[golden.kind == "exact"]
    for r in exact_pairs.itertuples():
        for side in (r.image_id_a, r.image_id_b):
            if side in tier_of and head_of.get(side) != side:
                assert tier_of[side] in ("exact", "pixel_exact"), (
                    side, tier_of[side]
                )


def test_resume_skips_completed_stages(spark, tiny_images, tmp_path):
    cfg = PipelineConfig(checkpoint_dir=str(tmp_path), run_id="r1")
    pipe = NearDupPipeline(spark, cfg)
    first = pipe.run(tiny_images)
    n_clusters = first["clusters"].count()
    statuses = {m["stage"]: m["status"] for m in cfg.metrics}
    assert set(statuses.values()) == {"complete"}

    # second run over the same checkpoint dir must resume every stage
    cfg2 = PipelineConfig(checkpoint_dir=str(tmp_path), run_id="r1")
    pipe2 = NearDupPipeline(spark, cfg2)
    second = pipe2.run(tiny_images)
    statuses2 = {m["stage"]: m["status"] for m in cfg2.metrics}
    assert set(statuses2.values()) == {"resumed"}
    assert second["clusters"].count() == n_clusters


def test_partition_lineage_written_and_verified(spark, tiny_images, tmp_path):
    import json as _json
    import os as _os

    cfg = PipelineConfig(checkpoint_dir=str(tmp_path), run_id="r1")
    pipe = NearDupPipeline(spark, cfg)
    first = pipe.run(tiny_images)
    n_feat = first["features"].count()

    # every completed stage wrote a per-partition lineage record whose
    # per-file rows sum to the stage row count
    for m in cfg.metrics:
        lin_path = _os.path.join(str(tmp_path), "r1", m["stage"], "_lineage.json")
        assert _os.path.exists(lin_path), m["stage"]
        with open(lin_path) as f:
            lin = _json.load(f)
        assert m["n_files"] == len(lin["files"])
        if m["stage"] == "features":
            assert sum(d["rows"] for d in lin["files"]) == n_feat

    # resume verifies the partition layout...
    cfg2 = PipelineConfig(checkpoint_dir=str(tmp_path), run_id="r1")
    NearDupPipeline(spark, cfg2).run(tiny_images)
    assert all(m.get("lineage_verified") for m in cfg2.metrics)

    # ...and fails fast when a partition file vanished
    feat_dir = _os.path.join(str(tmp_path), "r1", "features")
    victim = next(
        fn for fn in sorted(_os.listdir(feat_dir)) if fn.endswith(".parquet")
    )
    _os.rename(
        _os.path.join(feat_dir, victim), _os.path.join(feat_dir, victim + ".bak")
    )
    try:
        cfg3 = PipelineConfig(checkpoint_dir=str(tmp_path), run_id="r1")
        with pytest.raises(RuntimeError, match="lineage"):
            NearDupPipeline(spark, cfg3).run(tiny_images)
    finally:
        _os.rename(
            _os.path.join(feat_dir, victim + ".bak"), _os.path.join(feat_dir, victim)
        )

    # ...and when a same-named partition file was replaced by one with
    # another row count (here: 1 row of the same schema)
    import pyarrow.parquet as pq

    with open(_os.path.join(feat_dir, "_lineage.json")) as f:
        recorded = {d["file"]: d["rows"] for d in _json.load(f)["files"]}
    victim = next(fn for fn, n in sorted(recorded.items()) if n > 1)
    victim_path = _os.path.join(feat_dir, victim)
    with open(victim_path, "rb") as f:
        original = f.read()
    pq.write_table(pq.read_table(victim_path).slice(0, 1), victim_path)
    try:
        cfg4 = PipelineConfig(checkpoint_dir=str(tmp_path), run_id="r1")
        with pytest.raises(RuntimeError, match="lineage"):
            NearDupPipeline(spark, cfg4).run(tiny_images)
        # ...or truncated so that its footer is gone
        with open(victim_path, "wb") as f:
            f.write(original[: len(original) // 2])
        cfg5 = PipelineConfig(checkpoint_dir=str(tmp_path), run_id="r1")
        with pytest.raises(RuntimeError, match="lineage"):
            NearDupPipeline(spark, cfg5).run(tiny_images)
    finally:
        with open(victim_path, "wb") as f:
            f.write(original)


def test_empty_input(spark):
    from ordinarydumpdeduplicator_spark.plans.pipeline import (
        NearDupPipeline,
        PipelineConfig,
    )
    from ordinarydumpdeduplicator_spark.schemas import IMAGES_SCHEMA

    empty = spark.createDataFrame([], IMAGES_SCHEMA)
    res = NearDupPipeline(spark, PipelineConfig()).run(empty)
    assert res["clusters"].count() == 0


def test_undecodable_and_missing_payloads(spark):
    from ordinarydumpdeduplicator_spark.plans.pipeline import (
        NearDupPipeline,
        PipelineConfig,
    )
    from ordinarydumpdeduplicator_spark.schemas import IMAGES_SCHEMA

    rows = [
        (f"g{i}", f"garbage-not-an-image-{i}".encode(), 8, 8, "png", None, 0)
        for i in range(10)
    ] + [(f"n{i}", None, 8, 8, "png", None, 0) for i in range(3)]
    images = spark.createDataFrame(rows, IMAGES_SCHEMA)
    res = NearDupPipeline(spark, PipelineConfig()).run(images)
    feats = res["features"]
    # distinct undecodable payloads hash to singletons; NULL payloads get
    # the Broken sentinel and are excluded entirely
    assert feats.filter("status = 'undecodable'").count() == 10
    assert feats.filter("status = 'error'").count() == 3
    cl = res["clusters"]
    assert cl.count() == 10
    assert cl.filter("is_dup").count() == 0


def test_verify_thresholds_render_as_numeric_sql(spark):
    """The verify filters are SQL strings: int and float thresholds both
    compare numerically, inclusive at the bound."""
    from ordinarydumpdeduplicator_spark.operators.verify import (
        verify_caption_pairs,
        verify_phash_pairs,
    )

    pairs = spark.createDataFrame([("a", "b"), ("a", "c")], "src string, dst string")
    feats = spark.createDataFrame(
        [("a", 0), ("b", 1), ("c", 7)], "image_id string, phash_v bigint"
    )  # hamming a-b = 1, a-c = 3

    def near(df):
        return sorted((r.src, r.dst, r.kind) for r in df.collect())

    assert near(verify_phash_pairs(pairs, feats, 0)) == []
    assert near(verify_phash_pairs(pairs, feats, 1)) == [("a", "b", "image_near")]
    assert near(verify_phash_pairs(pairs, feats, 2.5)) == [("a", "b", "image_near")]
    assert len(near(verify_phash_pairs(pairs, feats, 3))) == 2
    caps = spark.createDataFrame(
        [("a", "red fox jumps high"), ("b", "red fox jumps high"), ("c", "blue sky")],
        "image_id string, caption string",
    )
    assert near(verify_caption_pairs(pairs, caps, jaccard_threshold=1, lcs_ratio=1)) == [
        ("a", "b", "caption_near")
    ]


def test_combined_candidates_match_per_family(spark, small_images):
    """The fused banding chain (one band-row union, one bucket pass) must
    produce exactly the per-family candidate pair sets, with correct
    family flags."""
    from ordinarydumpdeduplicator_spark.operators.features import (
        extract_features,
    )
    from ordinarydumpdeduplicator_spark.operators.lsh import (
        caption_candidates,
        combined_candidates,
        phash_candidates,
    )

    feats = extract_features(small_images).localCheckpoint()
    cap_pairs, cap_star = caption_candidates(feats)
    ph_pairs, ph_star = phash_candidates(feats)
    pairs, cstar, pstar = combined_candidates(feats)

    cap_set = {(r.src, r.dst) for r in cap_pairs.collect()}
    ph_set = {(r.src, r.dst) for r in ph_pairs.collect()}
    comb = pairs.collect()
    assert {(r.src, r.dst) for r in comb if r.from_caption} == cap_set
    assert {(r.src, r.dst) for r in comb if r.from_phash} == ph_set
    assert {(r.src, r.dst) for r in comb} == cap_set | ph_set

    # star edges pass through unchanged
    assert cstar.collect() == cap_star.collect() or (
        {tuple(r) for r in cstar.collect()} == {tuple(r) for r in cap_star.collect()}
    )
    assert {tuple(r) for r in pstar.collect()} == {
        tuple(r) for r in ph_star.collect()
    }

    # the one key-group aggregate == the four per-family chains: star
    # edges of all four kinds, and the representatives LSH bands
    from ordinarydumpdeduplicator_spark.operators.exact_dedup import (
        exact_edges,
        key_groups,
        pixel_exact_edges,
    )
    from ordinarydumpdeduplicator_spark.operators.lsh import (
        caption_representatives,
        phash_representatives,
    )

    star, kg_cap_reps, kg_ph_reps = key_groups(feats)
    per_family = (
        exact_edges(feats)
        .unionByName(pixel_exact_edges(feats))
        .unionByName(cap_star)
        .unionByName(ph_star)
    )
    star_rows = [tuple(r) for r in star.select("src", "dst", "kind").collect()]
    assert len(star_rows) == len(set(star_rows))
    assert set(star_rows) == {
        tuple(r) for r in per_family.select("src", "dst", "kind").collect()
    }
    assert {kind for _, _, kind in star_rows} == {
        "exact", "pixel_exact", "caption_exact", "phash_exact"
    }

    def reps(df, col):
        return {
            (r.id, tuple(r[col]) if col == "bands" else r[col])
            for r in df.select("id", col).collect()
        }

    assert reps(kg_cap_reps, "bands") == reps(
        caption_representatives(feats)[0], "bands"
    )
    assert reps(kg_ph_reps, "phash") == reps(
        phash_representatives(feats)[0], "phash"
    )


@pytest.mark.parametrize(
    "field,bad",
    [
        ("phash_band_mode", "c4x16"),
        ("bucket_cap", 1),
    ],
)
def test_bad_config_raises_before_any_stage(spark, tiny_images, tmp_path, field, bad):
    """A bad parameter fails at the API boundary, before the features
    stage decodes anything or writes a checkpoint."""
    import os as _os

    ck = str(tmp_path / "ck")
    cfg = PipelineConfig(checkpoint_dir=ck, run_id="r1", **{field: bad})
    with pytest.raises(ValueError, match=field):
        NearDupPipeline(spark, cfg).run(tiny_images)
    assert not _os.path.exists(ck)


# jobs of one checkpointed pass over tiny_images (all four stages); the
# stage plumbing reads counts and lineage from parquet footers, and the
# edges stage runs one key-group aggregate for the four exact-key families
CHECKPOINTED_PASS_JOB_BUDGET = 17


def test_checkpointed_pass_job_budget(spark, tiny_images, tmp_path):
    """Regression guard on the fixed per-job cost of a pass: a stage that
    goes back to re-scanning its output (counts, lineage, schema
    inference) or an edge family that grows its own aggregate chain
    shows up here as extra Spark jobs."""
    sc = spark.sparkContext
    group = f"job-budget-{tmp_path.name}"
    cfg = PipelineConfig(checkpoint_dir=str(tmp_path), run_id="r1")
    sc.setJobGroup(group, "checkpointed pass job budget")
    try:
        NearDupPipeline(spark, cfg).run(tiny_images)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert {m["status"] for m in cfg.metrics} == {"complete"}
    assert n_jobs <= CHECKPOINTED_PASS_JOB_BUDGET, n_jobs


def test_cc_precount_skipped_via_edge_count_hint(spark, tiny_images):
    """The edges stage's measured rows_out flows into cc as n_edges_hint:
    the small-graph cutover then runs zero pre-check jobs."""
    cfg = PipelineConfig()
    pipe = NearDupPipeline(spark, cfg)
    pipe.run(tiny_images)
    cc_row = next(m for m in cfg.metrics if m["stage"] == "cc")
    assert cc_row["precount_sec"] == 0.0
    assert cc_row["rounds"] == 0  # driver union-find path taken


def test_clusters_join_broadcasts_small_assignment(spark, tiny_images):
    """With a small measured assignment frame, the final clusters join is
    a broadcast: the feature side is never exchanged for it."""
    cfg = PipelineConfig()
    pipe = NearDupPipeline(spark, cfg)
    feats = pipe.features(tiny_images)
    edges = pipe.edges(tiny_images, feats)
    assign = pipe.components(edges)
    # bypass the stage checkpoint so the join plan stays inspectable
    # (the checkpointed frame reads back as an ExistingRDD scan)
    pipe._stage = lambda stage, build: build()
    df = pipe.clusters(feats, assign)
    df.collect()
    joined_plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in joined_plan
    assert "SortMergeJoin" not in joined_plan


def test_modality_report_pipeline_output(small_corpus, pipeline_result):
    """The shipped modality_report: one row per assigned image, verdicts
    from the allowed set, consistent with is_dup, and planted
    byte-identical pairs audited as 'file' evidence."""
    rows = pipeline_result["modality_report"].collect()
    assert len(rows) == pipeline_result["clusters"].count()
    allowed = {"file", "both", "image_only", "caption_only", "unique",
               "other"}
    assert {r.agreement for r in rows} <= allowed
    verdict = {r.image_id: r.agreement for r in rows}
    sizes: dict = {}
    for r in rows:
        sizes[r.cluster_id] = sizes.get(r.cluster_id, 0) + 1
    for r in rows:
        if sizes[r.cluster_id] == 1:
            assert r.agreement == "unique", r
        else:
            assert r.agreement != "unique", r
    pdf, golden = small_corpus
    for g in golden[golden.kind == "exact"].itertuples():
        for side in (g.image_id_a, g.image_id_b):
            if side in verdict:
                # byte-identical evidence may be shadowed only by a
                # stronger family, and 'file' IS the strongest
                assert verdict[side] == "file", (side, verdict[side])


def test_metrics_and_lineage_tables(spark, tiny_images, tmp_path):
    """metrics_table / lineage_table expose the persisted run telemetry
    as queryable DataFrames (north rule: lineage + METRICS TABLES)."""
    from ordinarydumpdeduplicator_spark.plans.pipeline import (
        lineage_table,
        metrics_table,
    )

    cfg = PipelineConfig(checkpoint_dir=str(tmp_path), run_id="rA")
    first = NearDupPipeline(spark, cfg).run(tiny_images)
    n_feat = first["features"].count()
    # a second resumed run under another run_id — both must surface
    cfg2 = PipelineConfig(checkpoint_dir=str(tmp_path), run_id="rB")
    NearDupPipeline(spark, cfg2).run(tiny_images)

    mt = metrics_table(spark, str(tmp_path))
    rows = {(r.run_id, r.stage): r for r in mt.collect()}
    stages = {"features", "edges", "cc", "clusters"}
    assert {rid for rid, _ in rows} == {"rA", "rB"}
    assert {st for _, st in rows} == stages
    assert rows[("rA", "features")].status == "complete"
    assert rows[("rA", "features")].rows_out == n_feat
    # cc convergence telemetry survives in the extra map
    assert "n_input_edges" in rows[("rA", "cc")].extra
    # single-run filter
    assert metrics_table(spark, str(tmp_path), run_id="rB").count() == len(
        stages
    )

    lt = lineage_table(spark, str(tmp_path), run_id="rA")
    per_stage = {
        r.stage: r.total
        for r in lt.groupBy("stage").agg(F.sum("rows").alias("total")).collect()
    }
    assert per_stage["features"] == n_feat
    assert lt.filter("rows < 0").count() == 0
