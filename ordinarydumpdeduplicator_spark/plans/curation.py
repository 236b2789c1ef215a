"""End-to-end corpus-curation funnel: quality -> exact dedup ->
decontamination -> mixture, with per-stage accounting.

This is the composition a training-data team actually runs — the
individual operators (token_stats, exact groups, decontaminate,
mixture_sample) each exist and are each oracled; this plan chains them
in the published order (filter, then dedup, then decontaminate, then
rebalance — the C4/Gopher/RefinedWeb stage order) and reports the
funnel: how many documents and characters each stage admits.

Scale shape: ONE pass attributes every document with the stage that
dropped it (an int), computed as

  - quality: a map-only integer-window predicate over token stats
    (no floats: mean token length compares as the cross-product
    total_token_len*10 vs bound*n_tokens),
  - exact dedup: hash-agg (min doc_id per normalized-content sha over
    quality survivors) + equi-join back — the exact_text_groups shape,
  - decontamination: broadcast semi-join against the eval n-gram key
    set (decontamination.decontaminate's flag, same n-gram convention),
  - mixture: hash60-threshold flag against per-stratum thresholds
    derived from stage-3 survivor counts (sampling.mixture_thresholds,
    a broadcast of <= len(targets) rows).

The funnel itself is then a single conditional aggregate over the
attribution frame (4 cumulative doc/char counters, partial-aggregated
map-side) pivoted to one row per stage — no window over data, no
collect, no second corpus scan. At 10^12 rows the expensive parts are
exactly the two shuffles the underlying operators already pay (the
content-sha agg and its join); everything else is map-side.

Reference analogue: none — beyond-reference training-pipeline surface
(SURVEY.md §2.12). The stage ORDER mirrors the reference's inspect ->
group -> act lifecycle (HierarchyAnalyzer.cs walks, then groups, then
DuplicateReport acts), generalized to corpus curation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.decontamination import decontaminate
from ..operators.sampling import hash60, mixture_thresholds
from ..operators.text_analysis import (
    GOPHER_MAX_MEAN_TOK_LEN_X10,
    GOPHER_MAX_TOKENS,
    GOPHER_MIN_MEAN_TOK_LEN_X10,
    GOPHER_MIN_TOKENS,
    token_stats,
)
from ..operators.text_dedup import normalized_text

FUNNEL_STAGES = ["quality", "exact_dedup", "decontamination", "mixture"]
DECONTAMINATION_N = 4  # eval n-gram length of the decontamination stage


def curation_attribution(
    docs: DataFrame,
    eval_docs: DataFrame,
    targets: dict[str, float],
    id_col: str = "doc_id",
    text_col: str = "text",
    stratum_col: str = "lang",
    salt: str = "mixr",
) -> DataFrame:
    """Per-document funnel attribution: (doc_id, survived) where
    ``survived`` = 4 for a fully retained document, else the 0-based
    index of the FUNNEL_STAGES entry that dropped it. ``_len`` (raw
    char length, 0 for NULL text) rides along for the char accounting,
    same pattern as tiers._tiers_frame.

    The skinny flagged frame before the mixture stage is NOT cut, though
    TWO consumers read it (the stage-3 survivor counts that derive the
    mixture thresholds, and the final attribution): both live in ONE
    job, so AQE's ReusedExchange already dedupes the upstream subtree
    (BENCH/plans.md shows '+4 reused' exchanges), and a lazy
    localCheckpoint there measured ~20% SLOWER at sandbox scale. At
    production scale, substitute a stage table the way
    plans/pipeline.py does."""
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("text"),
        F.col(stratum_col).alias("__stratum"),
        F.coalesce(F.length(text_col).cast("long"), F.lit(0)).alias(
            "_len"
        ),
    )
    # stage 1 — quality: token-count window + mean-token-length window
    # (the cheap Gopher rules; the full verdict incl. n-gram coverage is
    # text_analysis.gopher_quality_filter, available standalone)
    ts = token_stats(base).select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        F.coalesce("total_token_len", F.lit(0)).alias("ttl"),
    )
    q_keep = (
        (F.col("n_tokens") >= GOPHER_MIN_TOKENS)
        & (F.col("n_tokens") <= GOPHER_MAX_TOKENS)
        & (
            F.col("ttl") * 10
            >= F.lit(GOPHER_MIN_MEAN_TOK_LEN_X10) * F.col("n_tokens")
        )
        & (
            F.col("ttl") * 10
            <= F.lit(GOPHER_MAX_MEAN_TOK_LEN_X10) * F.col("n_tokens")
        )
    )
    flagged = base.join(ts, "doc_id").withColumn("q_keep", q_keep)

    # stage 2 — exact dedup among quality survivors (min-id keeper per
    # normalized-content sha; the exact_text_groups / reference
    # AddBlobInfo first-wins rule)
    keepers = (
        flagged.filter("q_keep")
        .groupBy(F.sha2(normalized_text(F.col("text")), 256).alias("__k"))
        .agg(F.min("doc_id").alias("__keeper"))
    )
    flagged = flagged.withColumn(
        "__k", F.sha2(normalized_text(F.col("text")), 256)
    ).join(keepers.hint("shuffle_hash"), "__k", "left")

    # stage 3 — decontamination flag (content fact, computable for every
    # document in the same broadcast pass; only survivors consult it)
    cont = decontaminate(
        docs, eval_docs, n=DECONTAMINATION_N, id_col=id_col, text_col=text_col
    ).select("doc_id", "contaminated")
    flagged = flagged.join(cont, "doc_id").select(
        # skinny: text/__k served their purpose (token stats, keeper
        # lookup) — checkpointing them would replicate the whole corpus
        "doc_id", "__stratum", "_len", "q_keep", "__keeper", "contaminated"
    )

    # stage 4 — mixture thresholds derived over stage-3 survivors only
    survivors3 = flagged.filter(
        F.col("q_keep")
        & (F.col("doc_id") == F.col("__keeper"))
        & ~F.col("contaminated")
    )
    thr = mixture_thresholds(
        survivors3.select(F.col("__stratum").alias(stratum_col)),
        targets,
        stratum_col,
    ).withColumnRenamed(stratum_col, "__stratum")
    flagged = flagged.join(F.broadcast(thr), "__stratum", "left")
    in_mix = F.col("__thr").isNotNull() & (
        hash60(F.col("doc_id"), salt) < F.col("__thr")
    )

    survived = (
        F.when(~F.col("q_keep"), F.lit(0))
        .when(F.col("doc_id") != F.col("__keeper"), F.lit(1))
        .when(F.col("contaminated"), F.lit(2))
        .when(~in_mix, F.lit(3))
        .otherwise(F.lit(4))
    )
    return flagged.select("doc_id", survived.alias("survived"), "_len")


def curation_funnel(
    docs: DataFrame,
    eval_docs: DataFrame,
    targets: dict[str, float],
) -> DataFrame:
    """The per-stage accounting: (stage_idx, stage, docs_in, docs_out,
    docs_dropped, chars_out), one row per FUNNEL_STAGES entry, where
    docs_in of stage i+1 == docs_out of stage i. All counters BIGINT —
    hash-exact against the DuckDB oracle."""
    att = curation_attribution(docs, eval_docs, targets)
    aggs = [F.count(F.lit(1)).cast("long").alias("n0")]
    for s in range(1, 5):
        # coalesce: on an EMPTY corpus sum() is NULL but the funnel row
        # should read 0-in/0-out, not NULL
        aggs.append(
            F.coalesce(
                F.sum((F.col("survived") >= s).cast("long")), F.lit(0)
            ).alias(f"n{s}")
        )
        aggs.append(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("survived") >= s, F.col("_len")
                    ).otherwise(0)
                ),
                F.lit(0),
            ).alias(f"c{s}")
        )
    one = att.agg(*aggs)
    stack_args = ", ".join(
        f"{i + 1}L, '{stage}', n{i}, n{i + 1}, n{i} - n{i + 1}, c{i + 1}"
        for i, stage in enumerate(FUNNEL_STAGES)
    )
    return one.selectExpr(
        f"stack(4, {stack_args}) AS "
        "(stage_idx, stage, docs_in, docs_out, docs_dropped, chars_out)"
    )
