"""Video near-duplicate detection: frame fingerprints -> banded LSH ->
verified frame-match fraction -> connected components -> tier report.

The reference hashes every file as one opaque byte stream
(Common/FsUtils.cs:39-54), so a re-muxed or re-encoded video — same
frames, different container bytes — is invisible to its dedup. This
module extends the tier cascade (operators/tiers.py) to the video
modality over REAL decoded frames:

  exact        byte-identical file (sha256 over the raw payload; broken
               payloads still hash — reference semantics: unparseable
               content still has identity)
  frame_exact  identical ordered frame-pHash signature (re-mux / fps
               change / lossless re-encode: headers differ, frames don't)
  frame_near   verified near duplicate — banded frame-pHash LSH
               candidates, symmetric frame-match fraction >= threshold
               (catches trimmed, noised, or lightly re-quantized copies)

Codec layer: uncompressed 24-bit RGB AVI is REALLY decoded
(fixtures/codecs.decode_avi_rgb, pure struct + numpy over the public
RIFF layout); other containers need ffmpeg-like tooling absent here —
``video_fingerprints(strict=True)`` raises inside the task; the default
(and ``video_dedup_report``) emits clearly-marked deterministic fake
frame hashes (status 'fake_decode'; hash-seeded per video, so fakes
never cross-match).

Scale shape (the 100 TB question): fingerprinting is ONE mapInPandas
pass over the payload column — bytes never enter a shuffle; only
(video_id, <= N_FRAMES int64 hashes) does, a ~100-byte row regardless of
video size. Everything after the decode pass is the modality-agnostic
built-ins core in operators/segment_dedup.py (banded LSH with bucket
caps, codegen bit_count verify, CC, tier attribution) — shared with the
audio chain (operators/audio_dedup.py).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..fixtures import codecs
from ..functions.phash import phash64
from .lsh import cap_reference_buckets
from .segment_dedup import (
    band_slices as _band_slices,
    segment_band_rows,
    segment_dedup_report,
)
from .segment_synth import SEG_BANDS

N_FRAMES = 8  # frames sampled per video

VIDEO_FP_SCHEMA = (
    "video_id string, status string, file_sha string, "
    "n_frames_total int, frame_hashes array<long>"
)


def video_fingerprints(video: DataFrame, strict: bool = False) -> DataFrame:
    """(video_id, bytes) -> one skinny fingerprint row per video:
    sha256 of the raw payload + up to N_FRAMES evenly-strided
    frame pHashes (functions/phash.phash64 over each decoded frame).

    status: ok | broken (valid magic, corrupt body) | unreadable (NULL
    payload) | fake_decode (non-AVI container, strict=False).

    Everything downstream (banding, verify, CC) runs on this frame, so
    the multi-MB payload column is read exactly once and never shuffled.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for vid, data in zip(pdf["video_id"], pdf["bytes"]):
                if data is None:
                    out.append((vid, "unreadable", None, None, None))
                    continue
                b = bytes(data)
                sha = hashlib.sha256(b).hexdigest()
                if b[:4] == b"RIFF" and b[8:12] == b"AVI ":
                    try:
                        frames = codecs.decode_avi_rgb(b)
                    except Exception:
                        out.append((vid, "broken", sha, None, None))
                        continue
                    n = len(frames)
                    take = (
                        range(n)
                        if n <= N_FRAMES
                        else [k * n // N_FRAMES for k in range(N_FRAMES)]
                    )
                    hashes = [phash64(frames[i]) for i in take]
                    out.append((vid, "ok", sha, n, hashes))
                    continue
                if strict:
                    raise NotImplementedError(
                        "non-AVI video decode requires an external codec "
                        "library (ffmpeg); not available in this "
                        "environment"
                    )
                fake = []
                for k in range(N_FRAMES):
                    h = hashlib.blake2b(
                        f"{vid}:{k}".encode(), digest_size=8
                    ).digest()
                    fake.append(int.from_bytes(h, "little", signed=True))
                out.append((vid, "fake_decode", sha, N_FRAMES, fake))
            # explicit nullable Int32: pandas would otherwise coerce a
            # [None, int] column to float64 (see verify-skill gotcha)
            yield pd.DataFrame(
                {
                    "video_id": [r[0] for r in out],
                    "status": [r[1] for r in out],
                    "file_sha": [r[2] for r in out],
                    "n_frames_total": pd.array(
                        [r[3] for r in out], dtype="Int32"
                    ),
                    "frame_hashes": [r[4] for r in out],
                }
            )

    return video.select("video_id", "bytes").mapInPandas(
        run, schema=VIDEO_FP_SCHEMA
    )


def frame_band_rows(fps: DataFrame) -> DataFrame:
    """Fingerprints -> distinct (video_id, band, key) LSH rows in the
    segment chain's SEG_BANDS bands — see segment_dedup.segment_band_rows."""
    return segment_band_rows(
        fps, bands=SEG_BANDS, id_col="video_id", hashes_col="frame_hashes"
    )


def video_dedup_report(
    video: DataFrame,
    fingerprints: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """End-to-end video dedup: fingerprints, tagged edges, cluster
    assignment for EVERY video (singletons -> themselves), and per-video
    tier attribution (exact / frame_exact / frame_near / canonical /
    unique) — the video-modality twin of plans/pipeline.NearDupPipeline.

    ``fingerprints``: pass a materialized fingerprint frame to skip the
    decode pass (production reuse — at 100x the fingerprint stage is
    always a checkpointed pipeline stage, exactly like
    tiers.dedup_tier_stats' `clusters=` parameter).

    Returns {"fingerprints", "edges", "clusters", "tiers"}; clusters is
    (video_id, cluster_id, is_dup)."""
    fps = (
        fingerprints
        if fingerprints is not None
        else video_fingerprints(video)
    )
    return segment_dedup_report(
        fps, id_col="video_id", hashes_col="frame_hashes", prefix="frame"
    )


def frames_matching_images(
    fps: DataFrame,
    images: DataFrame,
    bands: int = 4,
    max_hamming: int = 4,
    image_bucket_cap: int = 1024,
    id_col: str = "image_id",
    phash_col: str = "phash",
) -> DataFrame:
    """Cross-modal containment probe: which corpus IMAGES appear as
    (near-)frames of which VIDEOS — the dedup question a multimodal
    training pipeline asks before keeping both a video and stills
    extracted from it.

    fps: video_fingerprints output (or a materialized fingerprint
    stage); images: any frame with (id_col, phash_col) — the corpus
    images table already carries phash (schemas.IMAGES_SCHEMA).

    Output: (video_id, frame_pos, image_id, hamming) — one row per
    matching (sampled frame, image) pair with Hamming(frame_phash,
    image_phash) <= max_hamming. frame_pos is the SAMPLE position
    (0..N_FRAMES-1), not the source frame index.

    Scale shape: both sides band into (band, key) buckets via
    band_slices (recall guaranteed within Hamming < bands); the
    image side is capped per bucket with a min-id witness
    (lsh.cap_reference_buckets: a hash-aggregate joined back, never a
    window, so nothing sorts the band frames). The verify
    is bit_count over the XOR (codegen, zero UDFs), and only
    cross-side pairs are ever generated."""
    v_rows = (
        fps.filter(F.col("frame_hashes").isNotNull())
        .select(
            "video_id",
            F.posexplode("frame_hashes").alias("frame_pos", "h"),
        )
        .select(
            "video_id", "frame_pos", "h",
            F.explode(_band_slices(F.col("h"), bands)).alias("s"),
        )
        .select("video_id", "frame_pos", "h",
                F.col("s.band").alias("band"), F.col("s.key").alias("key"))
    )
    i_rows = cap_reference_buckets(
        images.filter(F.col(phash_col).isNotNull())
        .select(
            F.col(id_col).alias("image_id"),
            F.col(phash_col).alias("ph"),
            F.explode(_band_slices(F.col(phash_col), bands)).alias("s"),
        )
        .select("image_id", "ph",
                F.col("s.band").alias("band"), F.col("s.key").alias("key")),
        "image_id",
        image_bucket_cap,
    )
    return (
        v_rows.join(i_rows.hint("shuffle_hash"), ["band", "key"])
        .filter(
            F.bit_count(F.col("h").bitwiseXOR(F.col("ph"))) <= max_hamming
        )
        .select(
            "video_id",
            "frame_pos",
            "image_id",
            F.bit_count(F.col("h").bitwiseXOR(F.col("ph"))).alias("hamming"),
        )
        .dropDuplicates(["video_id", "frame_pos", "image_id"])
    )
