"""Cross-corpus fuzzy dedup: match a NEW batch of documents against an
existing REFERENCE corpus by MinHash/LSH + exact verification, without
ever pairing documents within the same side.

The training-pipeline shape this serves: "dedupe this crawl against the
previous snapshot and keep only novel documents". The exact-key variant
exists as ``operators/bloom_dedup.incremental_new_docs``; this operator
is its NEAR-duplicate counterpart (a near-copy in the reference corpus
disqualifies a batch doc even when no byte-exact copy exists). Reference
behaviour analogue: the tool re-inspecting a directory only reports NEW
duplicates against what the database already holds
(OrdinaryDumpDeduplicator.cs:26-47) — here "already holds" is fuzzy.

Scale shape (the part that must survive 100 TB):
- Both sides run the SAME vectorized signature chain the in-corpus
  operators use (functions/minhash.band_keys_udf) — one Arrow UDF pass
  per side, bands computed inside the UDF, explode of ready arrays only.
- Candidates come from an equi-join of band rows on (band, key): only
  cross-side pairs exist by construction, never the C(n,2) within-side
  blowup. The reference side of each bucket is capped FIRST by
  lsh.cap_reference_buckets (over ``ref_bucket_cap`` members collapse
  to their minimum id — one deterministic witness), so a hot
  shingle-band in the snapshot cannot multiply the batch.
- The reference band frame is the big side at steady state (snapshot >>
  batch): the join hints SHUFFLE_HASH on it — the checkpoint-less band
  frames carry no size stats, and Catalyst would otherwise broadcast
  tens of millions of band rows through the driver (operators/lsh.py
  measured that at 40s flat on any core count).
- Verification is per CANDIDATE pair (bounded by the caps), repartitioned
  across the cluster by verify_caption_pairs.

Determinism: ids are compared as strings inside the banding machinery
(the shared contract of operators/lsh.py), but the match witness
``match_ref_id`` is the NUMERIC minimum of the verified reference ids —
value-exact against the DuckDB oracle (oracles.cross_corpus_novel_sql).

Ids must be unique ACROSS the two frames (they come from the same key
space — a snapshot and its delta); the verify join unions both sides
into one caption lookup, so a collision would cross-wire captions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.minhash import band_keys_udf
from .lsh import (
    DEFAULT_BUCKET_CAP,
    cap_reference_buckets,
    caption_band_rows,
    ensure_min_parallelism,
)
from .verify import verify_caption_pairs


def _band_rows(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    sigs = ensure_min_parallelism(
        docs.select(F.col(id_col).cast("string").alias("id"), text_col)
    ).select("id", band_keys_udf(F.col(text_col)).alias("bands"))
    # no null-filter on bands: posexplode skips null arrays, and a filter
    # on an Arrow-UDF output column makes Catalyst run the UDF twice
    return caption_band_rows(sigs)


def cross_corpus_matches(
    batch: DataFrame,
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref_bucket_cap: int = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """One row per batch document: its novelty verdict against the
    reference corpus.

    Output: ``(doc_id, match_ref_id, is_novel)`` — ``match_ref_id`` is
    the smallest reference id whose document verified as a near-duplicate
    of this batch doc (NULL if none → ``is_novel`` true). Batch docs with
    NULL/empty text have no shingles, match nothing, and are novel —
    same rule as the in-corpus candidate chain (and the oracle).
    """
    b_rows = _band_rows(batch, id_col, text_col)
    # standard engine cap rule, applied to the reference side only
    # (lsh.cap_reference_buckets): the signature UDF chain runs once, and
    # nothing sorts the full reference band frame
    r_capped = cap_reference_buckets(
        _band_rows(reference, id_col, text_col), "id", ref_bucket_cap
    ).select("band", "key", F.col("id").alias("ref_id"))

    cands = (
        b_rows.join(r_capped.hint("shuffle_hash"), ["band", "key"])
        .select(F.col("id").alias("src"), F.col("ref_id").alias("dst"))
        .dropDuplicates(["src", "dst"])
    )

    corpus = (
        batch.select(
            F.col(id_col).cast("string").alias("image_id"),
            F.col(text_col).alias("caption"),
        )
        .unionByName(
            reference.select(
                F.col(id_col).cast("string").alias("image_id"),
                F.col(text_col).alias("caption"),
            )
        )
    )
    verified = verify_caption_pairs(cands, corpus)

    matches = verified.groupBy("src").agg(
        F.min(F.col("dst").cast("long")).alias("match_ref_id")
    )
    out = (
        batch.select(F.col(id_col).alias("doc_id"))
        .join(
            matches.withColumnRenamed("src", "doc_id_str"),
            F.col("doc_id").cast("string") == F.col("doc_id_str"),
            "left",
        )
        .select(
            "doc_id",
            "match_ref_id",
            F.col("match_ref_id").isNull().alias("is_novel"),
        )
    )
    return out


def novel_docs(
    batch: DataFrame,
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The keep-side convenience: batch rows with no near-duplicate in
    the reference corpus (full original payload, not just ids)."""
    verdicts = cross_corpus_matches(
        batch, reference, id_col=id_col, text_col=text_col
    ).filter("is_novel")
    return batch.join(
        verdicts.select(F.col("doc_id").alias(id_col)), id_col, "left_semi"
    )
