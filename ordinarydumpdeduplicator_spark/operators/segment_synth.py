"""Deterministic synthetic media-fingerprint corpus derived from the
``documents`` table — the injectable fingerprint frame that puts the
media segment chain (operators/segment_dedup.py) behind the driver's
value-exact DuckDB correctness gate.

The decode stage of the real media chains (AVI/WAV/image bytes ->
segment hashes) is legitimately not SQL-expressible, so the driver gate
could never check it — but everything DOWNSTREAM of the fingerprint
frame is pure integer built-ins (band-slice LSH, bit_count verify,
connected components). This module synthesizes that frame with math
both engines compute identically:

    hash60(s) = first 15 hex chars of md5(s), parsed base-16
              = Spark  conv(substr(md5(s),1,15),16,10)::long
              = DuckDB ('0x' || substr(md5(s),1,15))::BIGINT

(the operators/sampling.hash60 convention, already parity-pinned by the
mixture_sample oracle). All values are positive < 2^60, so bit slicing
and XOR behave identically under signed 64-bit in both engines.

Planted structure, keyed on doc_id alone (every 4 consecutive ids form
a content family; ids with (doc_id div 4) % 3 == 2 are solo items):

    v = doc_id % 4, g = doc_id div 4, family content key 'fam:<g>'
    v0  canonical        base hashes,        payload 'payload:<g>:0'
    v1  byte copy        base hashes,        payload 'payload:<g>:0'
                         (identical bytes -> 'exact' tier)
    v2  re-mux           base hashes,        payload 'payload:<g>:2'
                         (same content, new container -> 'seg_exact')
    v3  g even: noisy    every hash XOR two disjoint low bits
                         (Hamming 2 <= SEG_MAX_HAMMING -> 'seg_near')
        g odd:  trim     first n_seg-3 segments only (match_frac
                         2(n-3)/(2n-3) >= 0.5 -> 'seg_near')
    solo                 unique hashes ('solo:<id>') -> 'unique'
    broken               doc_id % 29 == 7 (overrides the above):
                         status 'broken', NULL hashes, payload
                         'broken:<doc_id div 58>' — exactly two ids per
                         58-window share it, so broken rows still dedup
                         byte-exactly (the reference's rule that
                         unparseable content still hashes,
                         Common/FsUtils.cs:39-54)

n_seg = 8 + (g % 5) segments per item (solo: 8 + doc_id % 5), so
signature lengths vary across families but agree within one.

The DuckDB mirror of this generator lives in
oracles.segment_fps_cte; tests/test_segment_synth.py pins the two
bit-for-bit on driver testdata.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# default chain parameters for the contract queries — one place, so the
# Spark queries and the oracle SQL builders cannot drift
SEG_BANDS = 4
SEG_MAX_HAMMING = 6
SEG_MIN_MATCH_FRAC = 0.5
SEG_BUCKET_CAP = 64
SEG_REF_BUCKET_CAP = 1024


def _h60(s):
    """hash60 of a string column — SQL-mirrorable 60-bit hash."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def synthetic_segment_fingerprints(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """documents -> (media_id, status, file_sha, seg_hashes) per the
    planted-family scheme in the module docstring. Pure built-ins
    (md5/conv/sequence/transform/shiftleft) — one codegen'd projection,
    no shuffle, no UDF; the oracle recomputes it cell-exactly."""
    d = docs.select(F.col(id_col).cast("long").alias("_did")).select(
        "_did",
        F.expr("_did div 4").alias("_g"),
        (F.col("_did") % 4).alias("_v"),
    )
    solo = F.col("_g") % 3 == 2
    broken = F.col("_did") % 29 == 7
    ck = F.when(
        solo, F.concat(F.lit("solo:"), F.col("_did"))
    ).otherwise(F.concat(F.lit("fam:"), F.col("_g")))
    n_seg = F.when(solo, 8 + F.col("_did") % 5).otherwise(
        8 + F.col("_g") % 5
    )
    fam3 = ~solo & (F.col("_v") == 3)
    noisy = fam3 & (F.col("_g") % 2 == 0)
    trim = fam3 & (F.col("_g") % 2 == 1)
    n_used = F.when(trim, n_seg - 3).otherwise(n_seg)
    payload_key = (
        F.when(broken, F.concat(F.lit("broken:"), F.expr("_did div 58")))
        .when(solo, F.concat(F.lit("payload:solo:"), F.col("_did")))
        .when(
            F.col("_v") == 1,
            F.concat(F.lit("payload:"), F.col("_g"), F.lit(":0")),
        )
        .otherwise(
            F.concat(
                F.lit("payload:"), F.col("_g"), F.lit(":"), F.col("_v")
            )
        )
    )
    # two disjoint flipped bits: i%7 in [0,7), 7+g%13 in [7,20) — always
    # Hamming exactly 2, and both bits stay far below bit 59 so every
    # perturbed value remains positive. pyspark's F.shiftleft only takes
    # a literal shift, so the column-dependent power of two is computed
    # as pow(2, n) — exact in double for n < 53, cast back to long
    # (DuckDB mirrors with 1::BIGINT << n).
    def _p2(n):
        return F.pow(F.lit(2.0), n.cast("double")).cast("long")

    def seg_hash(i):
        base = _h60(
            F.concat(F.lit("seg:"), ck, F.lit(":"), i.cast("string"))
        )
        pert = _p2(i % 7) + _p2(7 + F.col("_g") % 13)
        return F.when(noisy, base.bitwiseXOR(pert)).otherwise(base)

    hashes = F.when(
        ~broken,
        F.transform(
            F.sequence(F.lit(0), n_used.cast("int") - 1), seg_hash
        ),
    )
    return d.select(
        F.col("_did").cast("string").alias("media_id"),
        F.when(broken, F.lit("broken")).otherwise(F.lit("ok")).alias(
            "status"
        ),
        F.sha2(payload_key, 256).alias("file_sha"),
        hashes.alias("seg_hashes"),
    )


def synthetic_modal_images(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """The cross-modal probe's IMAGE side: one still per v==1 document,
    whose phash equals one sampled segment hash of its family's
    canonical video — exactly (g even) or within Hamming 1 (g odd), so
    the frames_matching_images probe exercises both the equality and
    the near branch of the bit_count verify. Solo/broken ids produce
    unrelated stills (hash60 of their own key) that must NOT match."""
    d = docs.select(F.col(id_col).cast("long").alias("_did")).filter(
        F.col("_did") % 4 == 1
    ).select("_did", F.expr("_did div 4").alias("_g"))
    solo = F.col("_g") % 3 == 2
    broken = F.col("_did") % 29 == 7
    n_seg = 8 + F.col("_g") % 5
    pos = (F.col("_did") % n_seg).cast("string")
    frame_hash = _h60(
        F.concat(F.lit("seg:fam:"), F.col("_g"), F.lit(":"), pos)
    )
    flip = F.pow(
        F.lit(2.0), (F.col("_g") % 20).cast("double")
    ).cast("long")
    phash = (
        F.when(
            solo | broken,
            _h60(F.concat(F.lit("still:"), F.col("_did"))),
        )
        .when(F.col("_g") % 2 == 1, frame_hash.bitwiseXOR(flip))
        .otherwise(frame_hash)
    )
    return d.select(
        F.concat(F.lit("img:"), F.col("_did")).alias("image_id"),
        phash.alias("phash"),
    )
