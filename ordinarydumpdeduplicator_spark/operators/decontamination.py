"""Benchmark decontamination: flag training documents that overlap an
evaluation set at the token-n-gram level.

The standard published recipe (GPT-3 appendix C's 13-gram filter; PaLM
and Llama report the same shape at other n) is: build the set of all
n-grams occurring anywhere in the benchmark/eval corpus, then mark a
training document contaminated if any of its n-grams is in that set.
Pipelines either drop contaminated documents outright or threshold on
the contaminated-position fraction.

Spark-first plan: the eval side collapses to a DISTINCT set of md5(gram)
keys — for any real benchmark suite that set is tiny next to a 100 TB
training corpus, so it broadcasts and the training side is scanned
exactly once with a broadcast hash join probe (no shuffle of the
training grams at all). When the "eval" side is itself huge
(``broadcast_eval=False``), the same plan degrades gracefully to a
shuffle hash join keyed on the 32-char md5 — skinny shuffle rows, no
gram text on the wire (same key trick as operators/substring_dedup).

Reference analogue: the reference only ever compares a corpus against
itself (DataControllerSimple.cs:252-301's whole-blob hash-group); this
is the cross-corpus generalization — group by content key, but the
"duplicate" predicate is membership in a second corpus's key set.

All-integer (+ boolean) outputs, so the DuckDB oracle check is
hash-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens_col


def _gram_keys(toks_df: DataFrame, n: int, extra_cols: list[str]) -> DataFrame:
    """(…, toks) -> one row per n-gram position with the md5 gram key."""
    return toks_df.where(F.size("toks") >= n).select(
        *extra_cols,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - n),
                lambda i: F.md5(F.concat_ws(" ", F.slice("toks", i + 1, n))),
            )
        ).alias("gram_key"),
    )


def decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_eval: bool = True,
) -> DataFrame:
    """Per-training-document eval-overlap stats.

    One row per ``train`` document: (doc_id, n_grams,
    n_contaminated_positions, n_contaminated_grams, contaminated) where
    a position is contaminated iff its n-gram occurs ANYWHERE in
    ``eval_docs``. ``contaminated`` is the drop predicate the published
    recipes use; the two counts let callers threshold on overlap
    fraction instead of any-hit.

    ``broadcast_eval`` should stay True whenever the eval corpus is a
    benchmark suite (MBs against a multi-TB training side): the distinct
    gram-key set rides to every executor once and the training scan
    never shuffles.
    """
    base = train.select(
        F.col(id_col).alias("doc_id"), tokens_col(text_col).alias("toks")
    )
    eval_keys = (
        _gram_keys(
            eval_docs.select(tokens_col(text_col).alias("toks")), n, []
        )
        .distinct()
    )
    if broadcast_eval:
        eval_keys = F.broadcast(eval_keys)
    hits = (
        _gram_keys(base, n, ["doc_id"])
        .join(eval_keys, "gram_key")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_contaminated_positions"),
            F.count_distinct("gram_key").alias("n_contaminated_grams"),
        )
    )
    return (
        base.select(
            "doc_id",
            F.greatest(F.size("toks") - n + 1, F.lit(0))
            .cast("long")
            .alias("n_grams"),
        )
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_contaminated_positions", F.lit(0))
            .cast("long")
            .alias("n_contaminated_positions"),
            F.coalesce("n_contaminated_grams", F.lit(0))
            .cast("long")
            .alias("n_contaminated_grams"),
            (F.coalesce("n_contaminated_positions", F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
    )


def fuzzy_decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """NEAR-duplicate decontamination: flag training documents that are
    fuzzy near-dups of any eval document, not just exact n-gram hits.

    Exact n-gram membership (:func:`decontaminate`) misses light
    paraphrases — reworded benchmark answers share few verbatim 8-grams
    but keep high shingle Jaccard / a long common substring. The
    published fuzzy recipes (GPT-3 appendix C's 13-gram+fuzzy pass; the
    Pile's near-dup decontamination) run exactly this shape: candidate
    pairs between train and eval via MinHash-LSH, then exact
    Jaccard/LCS verification.

    One row per ``train`` document: (doc_id, matched_eval_id,
    contaminated) — matched_eval_id is the smallest eval id verified as
    a near-duplicate (NULL -> clean).

    Delegates to cross_dedup.cross_corpus_matches with TRAIN as the
    probed batch and the EVAL set as the reference snapshot, inheriting
    its scale shape: cross-side-only candidate joins (never train x
    train), the eval side bucket-capped to a min-id witness, train
    payloads never shuffled past the skinny band rows. Unlike the exact
    pass there is no broadcast shortcut — the LSH index of the eval set
    plays that role (band rows of a benchmark suite are tiny, and the
    shuffle-hash join streams the training bands past them once)."""
    from .cross_dedup import cross_corpus_matches

    m = cross_corpus_matches(
        train, eval_docs, id_col=id_col, text_col=text_col
    )
    return m.select(
        "doc_id",
        F.col("match_ref_id").alias("matched_eval_id"),
        F.col("match_ref_id").isNotNull().alias("contaminated"),
    )
