"""Region-level image dedup: dihedral-canonical pixel identity + per-tile
perceptual hashes, over ONE decode pass.

Two duplicate classes the existing image families cannot see:

- **Rotated / mirrored re-uploads.** ``pixel_exact`` keys on the raw
  decoded buffer and DCT pHash is not rotation-invariant, so a
  90-degree-rotated or mirrored copy is invisible to both. The dihedral
  group of a raster image has exactly 8 elements (4 rotations x optional
  flip); hashing all 8 orientations of the decoded pixels and keeping the
  lexicographic MIN digest (``dihedral_sha``) makes orientation a
  non-identity: every one of the 8 variants of an image produces the same
  canonical key. Grouped with the orientation-invariant dims key
  ``(min(h,w), max(h,w))``. This also subsumes container-insensitivity
  (it hashes decoded pixels, like exact_dedup.pixel_exact_edges) — a
  png and a bmp of the same rotated pixels share the key.

- **Locally-edited copies** (watermark, corner logo, banner strip, meme
  caption box). A heavy local edit flips global-pHash bits far past any
  usable Hamming radius — the DCT mixes the edited region into every
  coefficient — while most of the image is untouched. A TILE_GRID x
  TILE_GRID grid of per-tile pHashes (functions/phash.tile_phashes: one
  integral image shared by all tiles) keeps the identity evidence in the
  unedited tiles; candidates and verification ride the shared
  modality-agnostic segment core (operators/segment_dedup.py — banded
  bit-slice LSH with bucket caps, codegen bit_count match fraction).

Edge families (strongest identity first, tiers.tier_attribution):

  exact           byte-identical file (sha256 over the raw payload)
  pixel_dihedral  same decoded pixels up to rotation/flip (+container)
  tile_near       verified near duplicate — >= min_match_frac of tiles
                  have a Hamming<=r counterpart on BOTH sides (local
                  edits, light noise)

No tile_exact family, deliberately: unlike the media chains (where
frame_exact catches re-muxed containers around bit-identical frames),
an image whose tile signature is identical has, in practice, identical
pixels — already caught by the strictly stronger pixel_dihedral — and
measured tile hashes under even mild re-quantization drift by Hamming
6-26 (tiles are small, so their DCT spectra carry little energy
separation), so a signature-equality family would never fire on
anything pixel_dihedral misses. Lossy re-encodes of the SAME pixels are
the global image pipeline's job (phash/dhash families,
plans/pipeline.py); this module exists for orientation and local edits.

Scale shape (the 100 TB question): fingerprinting is ONE mapInPandas
pass over the payload column — bytes never enter a shuffle; only
(image_id, 2 digests, TILE_GRID^2 int64 hashes) does (~200 bytes/row). The
dihedral cost is 8 digests over the decoded buffer — memory-bandwidth
bound and embarrassingly parallel, amortized against the decode it
shares a pass with. Everything downstream is the segment core: bucket
caps bound pair volume, verify is codegen popcounts, CC's edge frame is
orders of magnitude under corpus size.

No reference analogue: the reference hashes each file as one opaque byte
stream (Common/FsUtils.cs:39-54) — a flipped or watermarked copy is a
distinct blob to it. This extends the tier cascade (operators/tiers.py)
to content identity under orientation and local edits.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..fixtures import codecs
from ..functions.phash import tile_phashes
from .features import EMPTY_SHA256
from .segment_dedup import cluster_report, segment_near_pairs, star_edges
from .segment_synth import SEG_BANDS, SEG_BUCKET_CAP

IMAGE_REGION_FP_SCHEMA = (
    "image_id string, status string, file_sha string, "
    "dims_key string, dihedral_sha string, tile_hashes array<long>"
)

# strongest identity first — same contract as tiers.IMAGE_TIER_PRECEDENCE
REGION_TIER_PRECEDENCE = ["exact", "pixel_dihedral", "tile_near"]


def dihedral_sha256(pixels: np.ndarray) -> str:
    """Canonical orientation-invariant pixel digest: the lexicographic min
    of sha256 over all 8 dihedral transforms (4 rotations x optional
    horizontal flip) of the H x W x 3 buffer. All 8 orientations of the
    same image enumerate the same 8 arrays, so they share the min."""
    best = None
    for flip in (pixels, pixels[:, ::-1]):
        for k in range(4):
            d = hashlib.sha256(
                np.ascontiguousarray(np.rot90(flip, k)).tobytes()
            ).hexdigest()
            if best is None or d < best:
                best = d
    return best


def image_region_fingerprints(images: DataFrame) -> DataFrame:
    """(image_id, bytes) -> one skinny fingerprint row per image:
    sha256 of the raw payload, the dihedral-canonical pixel digest +
    orientation-invariant dims key, and TILE_GRID^2 per-tile pHashes.

    status: ok | empty | undecodable (valid-looking bytes, decode fails;
    file_sha still set — byte-identical corrupt files are REAL exact
    duplicates, reference semantics) | error (NULL payload — the Broken
    sentinel, OrdinaryDumpDeduplicator.cs:119-125)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for iid, data in zip(pdf["image_id"], pdf["bytes"]):
                if data is None:
                    out.append((iid, "error", None, None, None, None))
                    continue
                b = bytes(data)
                if len(b) == 0:
                    out.append((iid, "empty", EMPTY_SHA256, None, None, None))
                    continue
                sha = hashlib.sha256(b).hexdigest()
                try:
                    pixels = codecs.decode(b)
                except ValueError:
                    out.append((iid, "undecodable", sha, None, None, None))
                    continue
                h, w = pixels.shape[0], pixels.shape[1]
                dims = f"{min(h, w)}x{max(h, w)}"
                out.append(
                    (
                        iid,
                        "ok",
                        sha,
                        dims,
                        dihedral_sha256(pixels),
                        tile_phashes(pixels),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "image_id",
                    "status",
                    "file_sha",
                    "dims_key",
                    "dihedral_sha",
                    "tile_hashes",
                ],
            )

    return images.select("image_id", "bytes").mapInPandas(
        run, schema=IMAGE_REGION_FP_SCHEMA
    )


def image_region_edges(fps: DataFrame) -> DataFrame:
    """All three edge families over one fingerprint frame, tagged with
    `kind` for tier attribution (precedence: REGION_TIER_PRECEDENCE).

    Note the near family is position-free (segment_band_rows drops tile
    position from the LSH key and match_frac_expr matches tile SETS), so
    a collage of the same tiles rearranged also verifies — acceptable
    for dedup (it IS derived content) and documented rather than hidden.
    A near pair needs >= 60% of its tiles matched within Hamming 4 (the
    segment chain's SEG_BANDS bands and SEG_BUCKET_CAP cap)."""
    exact = star_edges(
        fps.filter(F.col("file_sha").isNotNull()).select(
            "image_id", "file_sha"
        ),
        ["file_sha"],
        "exact",
        "image_id",
    )
    dihedral = star_edges(
        fps.filter(F.col("dihedral_sha").isNotNull()).select(
            "image_id", "dims_key", "dihedral_sha"
        ),
        ["dims_key", "dihedral_sha"],
        "pixel_dihedral",
        "image_id",
    )
    near = segment_near_pairs(
        fps.filter(F.col("status") == "ok"),
        bands=SEG_BANDS,
        max_hamming=4,
        min_match_frac=0.6,
        bucket_cap=SEG_BUCKET_CAP,
        id_col="image_id",
        hashes_col="tile_hashes",
    ).select("src", "dst", F.lit("tile_near").alias("kind"))
    return exact.unionByName(dihedral).unionByName(near)


def image_region_dedup_report(
    images: DataFrame,
    fingerprints: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """End-to-end region-level image dedup: fingerprints, tagged edges,
    cluster assignment for EVERY image (singletons -> themselves), and
    per-image tier attribution (exact / pixel_dihedral / tile_near /
    canonical / unique).

    ``fingerprints``: pass a materialized fingerprint frame to skip the
    decode pass (production reuse — same contract as
    video_dedup.video_dedup_report and tiers.dedup_tier_stats).

    Returns {"fingerprints", "edges", "clusters", "tiers"}; clusters is
    (image_id, cluster_id, is_dup)."""
    fps = (
        fingerprints
        if fingerprints is not None
        else image_region_fingerprints(images)
    )
    # fps feeds six consumers (3 edge families + near verify sides +
    # the cluster left join)
    fps = fps.localCheckpoint(eager=False)
    return cluster_report(
        fps, image_region_edges(fps), "image_id", REGION_TIER_PRECEDENCE
    )
