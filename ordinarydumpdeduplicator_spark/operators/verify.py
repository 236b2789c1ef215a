"""Candidate-pair verification: kill LSH false positives, keep real pairs.

The reference needs no verification — its only key is the exact hash. For
near-dups, LSH candidates are verified with the exact (non-hashed) measure
before entering connected components, so cluster quality does not depend on
banding luck:

- caption pairs: exact word-shingle Jaccard (pandas UDF over the two
  caption strings) >= ``jaccard_threshold``, OR a long common substring
  (suffix-automaton LCS ratio >= ``lcs_ratio``) — the north rule's
  substring check catches prefix/suffix paraphrases Jaccard dilutes.
- phash pairs: Hamming distance via JVM ``bit_count(a ^ b)`` <=
  ``hamming_threshold`` (no Python in this path).

Verification joins pull ONLY the columns needed (caption / phash), never
``bytes`` — at 100 TB the candidate verify-join is a shuffle of two string
columns bounded by the candidate count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.lcs import lcs_udf
from ..functions.minhash import jaccard_udf

JACCARD_THRESHOLD = 0.5
LCS_RATIO = 0.6
HAMMING_THRESHOLD = 8


def _double(x: float) -> str:
    """A SQL DOUBLE literal (a bare ``0.5`` parses as DECIMAL)."""
    return f"{float(x)!r}D"


def verify_phash_pairs(
    pairs: DataFrame, features: DataFrame, hamming_threshold: int = HAMMING_THRESHOLD
) -> DataFrame:
    """pairs(src,dst) + features(image_id, phash_v) -> verified edges."""
    return (
        pairs.join(features.selectExpr("image_id AS src", "phash_v AS ph_a"), "src")
        .join(features.selectExpr("image_id AS dst", "phash_v AS ph_b"), "dst")
        .withColumn("hamming", F.expr("bit_count(ph_a ^ ph_b)"))
        .filter(f"hamming <= {_double(hamming_threshold)}")
        .selectExpr("src", "dst", "'image_near' AS kind")
    )


def verify_caption_pairs(
    pairs: DataFrame,
    images: DataFrame,
    jaccard_threshold: float = JACCARD_THRESHOLD,
    lcs_ratio: float = LCS_RATIO,
) -> DataFrame:
    """pairs(src,dst) + images(image_id, caption) -> verified edges.

    The candidate frame is tiny relative to the corpus, so AQE coalesces it
    to ~1 partition — which would serialize the per-pair Python verification
    (measured: the whole edges stage flatlined at ~41s regardless of core
    count, all of it one task running LCS). Explicitly repartition the
    pairs across the cluster before the UDF stage: the shuffle is a few MB,
    the unlocked parallelism is the entire verify cost."""
    n_parts = pairs.sparkSession.sparkContext.defaultParallelism
    joined = (
        pairs.repartition(n_parts, "src", "dst")
        .join(images.selectExpr("image_id AS src", "caption AS cap_a"), "src")
        .join(images.selectExpr("image_id AS dst", "caption AS cap_b"), "dst")
        .withColumn("jaccard", jaccard_udf("cap_a", "cap_b"))
        .withColumn("lcs_len", lcs_udf("cap_a", "cap_b"))
        .withColumn(
            "lcs_ratio",
            F.expr("lcs_len / greatest(least(length(cap_a), length(cap_b)), 1)"),
        )
    )
    return joined.filter(
        f"jaccard >= {_double(jaccard_threshold)} OR lcs_ratio >= {_double(lcs_ratio)}"
    ).selectExpr("src", "dst", "'caption_near' AS kind")
