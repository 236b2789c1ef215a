"""Pair-level evaluation of a dedup run against a labeled pair set.

The north rule's acceptance metric — dup-pair recall >= 0.99 vs the
reference's groupings — lifted from test-harness code into a first-class
distributed operator: given the cluster-assignment table any of the
engine's dedup chains emits (near_dup_text_clusters, NearDupPipeline,
tier cascade) and a set of labeled duplicate pairs, compute pair recall
(fraction of labeled pairs co-clustered), pair precision (fraction of
predicted co-clustered pairs that are labeled — meaningful only when the
label set is complete, as with planted corpora), and the raw counts.

The reference's analogue is eyeballing the duplicate report against the
known dump layout (DuplicatesProcessor.cs:34-60 builds the groups, the
Desktop UI is the "evaluation"); at web scale the evaluation itself must
be a distributed job.

Scale shape: the labeled set is an eval artifact (thousands of pairs),
the assignment table is corpus-sized. Both hit joins stream the
assignment table once against a BROADCAST golden side, and the predicted
pair count folds cluster sizes in one hash-aggregate — no pair set is
ever materialized (sum of C(n,2) over cluster sizes), so a 10^12-row
assignment table costs one scan + one agg + two broadcast probes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_pair_metrics(
    assignments: DataFrame,
    golden_pairs: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """One-row metrics frame: n_golden, n_predicted, n_hit, pair_recall,
    pair_precision.

    ``golden_pairs`` may arrive unordered / with duplicates / with self
    pairs — it is canonicalized (least, greatest, distinct, a != b)
    first; that distinct is a shuffle over the SMALL side only. Labeled
    ids absent from ``assignments`` count as misses (inner-join
    semantics), which is the honest reading: the deduper never clustered
    them.

    Both inputs are cut with a lazy localCheckpoint: ``assignments``
    feeds THREE consumers (both endpoint probes and the cluster-size
    fold) and ``golden_pairs`` two — without the cut each consumer
    re-executes the upstream chain (a full LSH->CC run, measured 3x wall
    on the contract query)."""
    assignments = assignments.localCheckpoint(eager=False)
    g = (
        golden_pairs.select(
            F.least(F.col(id_a), F.col(id_b)).alias("__ga"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("__gb"),
        )
        .where(F.col("__ga") != F.col("__gb"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    a = assignments.select(
        F.col(id_col).alias("__ida"), F.col(cluster_col).alias("__ca")
    )
    b = assignments.select(
        F.col(id_col).alias("__idb"), F.col(cluster_col).alias("__cb")
    )
    # stream the corpus-sized assignment table against the broadcast
    # golden side; after the first join the survivor set is <= |golden|,
    # so the second probe broadcasts it too
    ja = a.join(F.broadcast(g), F.col("__ida") == F.col("__ga"))
    hits = (
        b.join(F.broadcast(ja), F.col("__idb") == F.col("__gb"))
        .where(F.col("__ca") == F.col("__cb"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    )

    n_golden = g.agg(F.count(F.lit(1)).cast("long").alias("n_golden"))
    # predicted co-clustered pairs = sum over clusters of C(size, 2) —
    # ONE hash-aggregate, the pair set itself never exists
    n_pred = (
        assignments.groupBy(cluster_col)
        .agg(F.count(F.lit(1)).alias("n"))
        # integer DIV keeps the fold in int64 — a 10^9-member cluster has
        # ~5e17 pairs, past double's 2^53 exact-integer range
        .agg(
            F.sum(F.expr("n * (n - 1) DIV 2")).cast("long").alias("n_predicted")
        )
    )

    return (
        n_golden.crossJoin(n_pred)
        .crossJoin(hits)
        .select(
            "n_golden",
            "n_predicted",
            "n_hit",
            F.when(
                F.col("n_golden") > 0,
                F.col("n_hit").cast("double") / F.col("n_golden"),
            ).alias("pair_recall"),
            F.when(
                F.col("n_predicted") > 0,
                F.col("n_hit").cast("double") / F.col("n_predicted"),
            ).alias("pair_precision"),
        )
    )
