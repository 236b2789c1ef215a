"""Physical-plan quality gates (.explain audits as regression tests).

The 100 TB design claims specific plan shapes; these tests pin them so a
refactor that silently loses a pushdown, a broadcast, or column pruning
fails CI — not a production run.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry


# physical plan nodes that run a Python worker
PYTHON_NODES = ("FlatMapCoGroupsInPandas", "FlatMapGroupsInPandas",
                "ArrowEvalPython", "BatchEvalPython")


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def queries():
    return entry.queries()


def test_filter_pushdown_reaches_scan(spark, queries):
    plan = plan_of(queries["pricing_summary"](spark, SF))
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters", 1)[1].split("\n", 1)[0]


def test_column_pruning(spark, queries):
    plan = plan_of(queries["token_stats"](spark, SF))
    # the scan must read only doc_id + text, not the whole documents schema
    read = plan.split("ReadSchema", 1)[1].split("\n", 1)[0]
    assert "text" in read and "doc_id" in read
    assert "source" not in read and "lang" not in read


def test_small_dim_broadcast(spark, queries):
    plan = plan_of(queries["nation_revenue"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_exact_groups_no_sort(spark, queries):
    """The content-key grouping must be hash-aggregate + join — no Sort
    node on the 64-char sha key (the window formulation would sort every
    row after the exchange)."""
    plan = plan_of(queries["exact_text_groups"](spark, SF))
    assert "HashAggregate" in plan
    assert "Window" not in plan
    for line in plan.splitlines():
        if "Sort " in line and "content_sha" in line:
            raise AssertionError(f"sort on content key crept back: {line}")


def test_bytes_never_shuffled(spark, tiny_images):
    """The scale-critical invariant: the multi-KB/MB `bytes` column must
    never appear in any Exchange — only compact features shuffle."""
    from ordinarydumpdeduplicator_spark.operators.exact_dedup import exact_clusters
    from ordinarydumpdeduplicator_spark.operators.features import extract_features

    feats = extract_features(tiny_images)
    plan = plan_of(exact_clusters(feats), "formatted")
    for block in plan.split("\n\n"):
        if block.strip().startswith("(") and "Exchange" in block.split("\n")[0]:
            assert "bytes" not in block, f"bytes column crossed a shuffle:\n{block}"


def test_anti_join_strategy(spark, queries):
    plan = plan_of(queries["orders_fully_shipped_early"](spark, SF))
    assert "LeftAnti" in plan


def test_stratified_sample_is_map_only(spark, queries):
    """The deterministic sampler must stay a pure per-row filter: no
    Exchange, no UDF worker — one codegen'd scan+filter."""
    plan = plan_of(queries["stratified_sample"](spark, SF))
    assert "Exchange" not in plan
    assert "Python" not in plan  # no Arrow/Batch eval nodes
    read = plan.split("ReadSchema", 1)[1].split("\n", 1)[0]
    assert "text" not in read, "sampler must not read the text column"


def test_sequence_packing_single_shuffle(spark, queries):
    """Packing is ONE running-sum window: exactly one Exchange (on the
    part key), no joins, no Python — and the text column is pruned
    before the shuffle (only skinny token counts move)."""
    import re

    plan = plan_of(queries["sequence_packing"](spark, SF))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "Join" not in plan and "Python" not in plan
    exchange_detail = plan.split(") Exchange", 1)[1].split("\n\n", 1)[0]
    assert "text" not in exchange_detail, "text must not shuffle"


def test_token_freq_quality_vocab_shape(spark, queries):
    """The truncated vocab must be TakeOrderedAndProject (per-partition
    top-k, not a global sort) and must reach the token stream as a
    BroadcastHashJoin — the corpus-sized side never shuffles for the
    score join."""
    plan = plan_of(queries["token_freq_quality"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bloom_dedup_history_join_only_on_hits(spark, queries):
    """The verify anti-join's probe side must be the bloom-hit filter
    output, not the whole batch. This is a real regression risk: the
    naive payload-level formulation is REORDERED by Catalyst
    (PushLeftSemiLeftAntiThroughJoin), which silently anti-joins the
    full batch. Assert the optimized plan's LeftAnti has the
    might_contain filter as its direct probe-side subtree."""
    plan = plan_of(queries["incremental_new_docs"](spark, SF), "extended")
    opt = plan.split("== Optimized Logical Plan ==", 1)[1].split(
        "== Physical Plan ==", 1
    )[0]
    lines = opt.splitlines()
    anti = [i for i, ln in enumerate(lines) if "Join LeftAnti" in ln]
    assert len(anti) == 1, f"expected exactly one LeftAnti, got {len(anti)}"
    # the anti-join's left child (the next 1-3 printed lines) is the
    # positive might_contain filter, NOT a batch relation/scan
    child_block = "\n".join(lines[anti[0] + 1 : anti[0] + 4])
    assert "might_contain" in child_block, child_block
    assert "Relation" not in child_block.split("might_contain")[0]
    # and the bitmap build/probe runs no Python worker
    phys = plan.split("== Physical Plan ==", 1)[1]
    assert not [n for n in PYTHON_NODES if n in phys], phys


def test_bloom_probe_runs_no_python(spark, tmp_path):
    """The bloom's build, merge and probe are built-in SQL: no plan
    node of any of them runs a Python worker. The probe joins the key
    positions straight to a persisted snapshot's word rows on (shard,
    word): no aggregate sits between the snapshot scan and the join
    (every snapshot holds one row per (shard, word) already)."""
    from ordinarydumpdeduplicator_spark.operators.bloom_dedup import (
        DEFAULT_K_HASHES,
        _probe_flags,
        bloom_merge,
        bloom_shards,
    )

    keys = spark.createDataFrame([("k1",), ("k2",)], "content_sha string")
    geometry = (4, 1 << 12, DEFAULT_K_HASHES)
    blooms = bloom_shards(keys, "content_sha", *geometry)
    path = str(tmp_path / "blooms")
    blooms.write.parquet(path)
    probe = plan_of(
        _probe_flags(keys, spark.read.parquet(path), "content_sha", *geometry)
    )
    assert re.search(r"Left keys \[2\]: \[shard#\d+, word#\d+\]\n"
                     r"Right keys \[2\]: \[shard#\d+, word#\d+\]\n"
                     r"Join type: LeftOuter", probe), probe
    assert "Scan parquet" in probe, probe
    assert "bit_or" not in probe, probe
    # an aggregate keyed on (shard, word) would be the snapshot's OR
    assert not re.search(r"\nKeys \[2\]: \[shard#\d+, word#\d+\]",
                         probe), probe
    for plan in (probe, plan_of(bloom_merge(blooms, blooms))):
        assert not [n for n in PYTHON_NODES if n in plan], plan


def test_sessionize_single_exchange_shared_by_windows(spark, queries):
    """Both window passes (lag flag + running session counter) AND the
    session rollup must share ONE Exchange on user_id: hash-partitioning
    on user_id satisfies the (user_id, session_seq) grouping, so no
    second wide shuffle appears anywhere in the plan. Spark re-sorts
    between the two Window nodes (in-partition, already-ordered input —
    an O(n) pass, not a shuffle), so up to 2 Sort nodes are expected."""
    import re

    plan = plan_of(queries["user_sessions"](spark, SF))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert len(re.findall(r"\(\d+\) Sort\b", plan)) <= 2
    assert "Python" not in plan and "Join" not in plan


def test_cluster_representatives_no_sha_sort(spark, queries):
    """max_by keeps the representative selection a pure hash-aggregate —
    no Sort node (the window formulation would sort rows by the sha)."""
    plan = plan_of(queries["cluster_representatives"](spark, SF))
    assert "Sort" not in plan.replace("SortAggregate", "")
    assert "HashAggregate" in plan


def test_leakage_safe_split_injected_is_map_only(spark, tmp_path):
    """With the pipeline's materialized cluster assignment injected (the
    production shape — same contract as dedup_tier_stats), the split is a
    pure per-row salted-digest predicate: no Exchange, no Python worker,
    one codegen'd scan+project."""
    from ordinarydumpdeduplicator_spark.operators.sampling import (
        leakage_safe_split,
    )

    path = str(tmp_path / "clusters")
    spark.createDataFrame(
        [(i, i % 7) for i in range(100)], "doc_id long, cluster_id long"
    ).write.parquet(path)
    plan = plan_of(
        leakage_safe_split(None, test_fraction=0.2, clusters=spark.read.parquet(path))
    )
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_dup_size_histogram_two_aggregates_no_join(spark, queries):
    plan = plan_of(queries["dup_size_histogram"](spark, SF))
    assert "Join" not in plan and "Window" not in plan


def test_dsir_weights_plan_shape(spark, queries):
    """DSIR: bucket histograms and the log-ratio table must come back as
    broadcasts (their size is bounded by n_buckets, never data-sized),
    the per-doc weight is a hash aggregate. The only Window allowed is
    the partition-less totals window over the <= n_buckets histogram
    rows (the mixture_thresholds pattern) — data-sized joins must all be
    hash-based, never sort-merge (a SortMergeJoin here would mean the
    broadcast of the bounded ratio table was lost)."""
    plan = plan_of(queries["dsir_weights"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "HashAggregate" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_curation_funnel_plan_shape(spark, queries):
    """The funnel must stay a conditional-aggregate pivot: one stack()
    generate over a single global hash-agg row, mixture thresholds
    broadcast back (their derivation's partition-less window runs over
    <= n_strata rows, not data), and no cartesian anywhere (the naive
    formulation — one count() job per stage — would show up here as
    missing stack/agg structure)."""
    plan = plan_of(queries["curation_funnel"](spark, SF))
    assert "stack(4" in plan
    assert "CartesianProduct" not in plan
    # the per-stage counters partial-aggregate map-side before the
    # single-row final agg
    assert "partial_count" in plan or "partial_sum" in plan


def test_top_reclaimable_is_topk_not_global_sort(spark, tmp_path):
    """The reclaimable-space report's ordering must execute as
    TakeOrderedAndProject (per-partition k-heaps merged on the driver),
    never a global Sort+Exchange of the cluster frame; the keeper pick
    must stay a HashAggregate (decimal-packed max_by), and with injected
    clusters nothing in the plan may recompute the LSH chain (no Arrow
    UDF evaluation nodes)."""
    from ordinarydumpdeduplicator_spark.operators.text_dedup import (
        top_reclaimable_clusters,
    )

    docs = spark.createDataFrame(
        [(i, "x" * (10 + i % 7)) for i in range(100)],
        "doc_id long, text string",
    )
    clusters = spark.createDataFrame(
        [(i, i % 10, 10) for i in range(100)],
        "doc_id long, cluster_id long, n_members long",
    )
    plan = plan_of(top_reclaimable_clusters(docs, clusters=clusters))
    assert "TakeOrderedAndProject" in plan
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan
    assert "ArrowEvalPython" not in plan and "EvalPython" not in plan


def test_pair_score_histogram_single_jaccard_pass(spark, queries):
    """The histogram collapses in one hash-aggregate over ONE Jaccard
    UDF evaluation (Catalyst must not duplicate the Arrow UDF), and the
    corpus scan reads only the id + text columns."""
    plan = plan_of(queries["pair_score_histogram"](spark, SF))
    assert plan.count("jaccard_udf") <= plan.count("ArrowEvalPython") + 1
    # exactly one scoring evaluation of the verify UDF in the whole plan
    assert plan.count("jaccard_udf(t_a") <= 1
    assert "HashAggregate" in plan


def test_segment_chain_plan_is_codegen_only(spark, queries):
    """The synthetic fingerprint generator and everything downstream of
    it (band slicing, bit_count verify, CC seed pass, tier aggregate)
    must be UDF-free JVM built-ins — zero Python eval nodes anywhere in
    the segment contract plans — and the near verify must never become
    a cartesian product."""
    for name in ("segment_clusters", "segment_novelty",
                 "frames_matching_images"):
        plan = plan_of(queries[name](spark, SF))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        # stats-blind Catalyst picks SortMergeJoin for the verify
        # join-backs and the corpus-side assignment joins, sorting the
        # fingerprint frame; shuffle_hash hints keep every join sort-free
        assert "SortMergeJoin" not in plan, name


def test_segment_clusters_no_wide_sort_aggregate(spark, queries):
    """star_edges' hash-min hub trick + the two-phase cap stats: no
    aggregate over the full band/sig frames may be a SortAggregate —
    the clusters chain is fully sort-free; novelty/cross-modal keep
    SortAggregates only on over-cap-bucket and candidate-volume frames
    (min-id witness, min_by best-match)."""
    plan = plan_of(queries["segment_clusters"](spark, SF))
    assert plan.count("HashAggregate") >= 4
    assert "SortAggregate" not in plan
    assert "() Sort " not in plan
