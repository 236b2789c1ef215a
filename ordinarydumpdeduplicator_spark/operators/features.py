"""Feature extraction: ONE vectorized pass over the heavy `bytes` column.

Reference analogue: the inspection's hash stage — sequential per-file
SHA-1 with error sentinels (OrdinaryDumpDeduplicator.cs:107-130,
Common/FsUtils.cs:39-54). Here it is a single ``mapInPandas`` stage that
reads each Arrow batch of rows once and emits a *compact* feature row
(couple hundred bytes) per image:

- ``size``/``sha``: exact content key — (size, sha256) mirrors BlobInfo
  equality (Common/BlobInfo.cs:143-164). Unreadable rows get the Broken
  sentinel ``size=-1, sha=NULL`` (Common/BlobInfo.cs:53-55) and are later
  excluded by the ``size >= 0`` guard (DataControllerSimple.cs:263-275).
  Empty payloads keep ``size=0`` + the canonical empty-content sha, so all
  empties form one REAL duplicate group (Common/BlobInfo.cs:44-51).
- ``pixel_sha``: sha256 of the DECODED pixel buffer — container-
  insensitive content identity (png vs bmp of the same pixels are
  byte-distinct but pixel-identical); NULL when undecodable.
- ``phash_v``: DCT perceptual hash recomputed from decoded pixels
  (verifies the input ``phash`` column); NULL when undecodable.
- ``dhash_v``: row-gradient difference hash — the standard pHash
  complement (edge structure vs low-frequency energy).
- ``gray_mean``/``gray_std``: cheap pixel statistics from the same decode.
- ``minhash``: caption shingle MinHash signature (array<long>, NULL when
  the caption has no shingles).
- ``bands``: LSH band keys derived from the signature IN the same numpy
  pass (operators/lsh.py explodes them directly — no JVM slice hashing).
- ``caption_sha``: sha256 of the normalized caption — exact-caption
  pre-grouping key that removes identical-caption skew *before* LSH.
- ``simhash``: 64-bit SimHash over caption tokens (secondary text feature).

At 100 TB the point of this design: every downstream stage (grouping, LSH,
connected components, reports) shuffles only these compact features; the
multi-MB ``bytes`` column never moves through a shuffle. Arrow batch size
is capped (session.ARROW_MAX_RECORDS) to bound executor memory.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import malloc_tuning  # noqa: F401 (worker-side mallopt)
from ..fixtures import codecs
from ..functions.minhash import minhash_signature_batch
from ..functions.phash import gray_features
from ..functions.text import shingle_hash64, tokens

FEATURES_SCHEMA = (
    "image_id string, size bigint, sha string, status string, "
    "w_actual int, h_actual int, pixel_sha string, "
    "phash_v bigint, dhash_v bigint, "
    "gray_mean double, gray_std double, "
    "caption_sha string, simhash bigint, minhash array<bigint>, "
    "bands array<bigint>"
)

# sha256 of empty input — the analogue of the reference's hard-coded
# canonical empty-SHA1 da39a3ee... (Common/BlobInfo.cs:49-51).
EMPTY_SHA256 = hashlib.sha256(b"").hexdigest()


def simhash64(toks: list[str]) -> int:
    """64-bit SimHash over token hashes (unit weights)."""
    if not toks:
        return 0
    acc = np.zeros(64, dtype=np.int64)
    for t in toks:
        h = shingle_hash64(t)  # md5-low64 — DuckDB-recomputable (oracle)
        bits = (h >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
        acc += np.where(bits.astype(bool), 1, -1)
    v = 0
    for i in range(64):
        if acc[i] > 0:
            v |= 1 << i
    if v >= 1 << 63:
        v -= 1 << 64
    return v


# token -> ±1 bit-vector cache, shared across Arrow batches within a worker
# (vocabulary is zipfian: the hot tokens hash once per worker lifetime)
_SIMHASH_TOKEN_CACHE: dict[str, np.ndarray] = {}


def _token_vec(t: str) -> np.ndarray:
    v = _SIMHASH_TOKEN_CACHE.get(t)
    if v is None:
        h = shingle_hash64(t)  # md5-low64 — DuckDB-recomputable (oracle)
        bits = (np.uint64(h) >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
        v = bits.astype(np.int8) * 2 - 1
        if len(_SIMHASH_TOKEN_CACHE) < 1_000_000:  # bound worker memory
            _SIMHASH_TOKEN_CACHE[t] = v
    return v


def simhash64_batch(token_lists: list[list[str]]) -> list[int]:
    """Vectorized batch SimHash, bit-identical to ``simhash64`` per row:
    one ±1 matrix over the batch's tokens, per-row sums via reduceat,
    sign bits packed with packbits — no per-token numpy dispatch."""
    rows = [ts for ts in token_lists if ts]
    if not rows:
        return [0] * len(token_lists)
    mat = np.concatenate([[_token_vec(t) for t in ts] for ts in rows]).reshape(
        -1, 64
    )
    lengths = np.array([len(ts) for ts in rows], dtype=np.int64)
    offsets = np.zeros(len(rows), dtype=np.int64)
    np.cumsum(lengths[:-1], out=offsets[1:])
    acc = np.add.reduceat(mat.astype(np.int64), offsets, axis=0)
    packed = np.packbits(acc > 0, axis=1, bitorder="little")
    vals = packed.view("<u8").ravel().astype(np.int64)
    out, j = [], 0
    for ts in token_lists:
        if ts:
            out.append(int(vals[j])); j += 1
        else:
            out.append(0)
    return out


def simhash_text_udf():
    """pandas UDF: text -> 64-bit token SimHash (None for empty text).

    Runs the vectorized ``simhash64_batch`` (one ±1 matrix + reduceat per
    Arrow batch, bit-identical to the scalar ``simhash64`` — pinned by
    tests/test_new_dedup_modalities.py) instead of a per-row loop."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.pandas_udf(T.LongType())
    def _udf(texts: pd.Series) -> pd.Series:
        vals = simhash64_batch([tokens(t) if t else [] for t in texts])
        return pd.Series(
            [v if t else None for v, t in zip(vals, texts)],
            index=texts.index,
            dtype="Int64",
        )

    return _udf


def _extract_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    n = len(pdf)
    out = {
        "image_id": pdf["image_id"].astype(str),
        "size": np.full(n, -1, dtype=np.int64),
        "sha": [None] * n,
        "status": ["ok"] * n,
        "w_actual": np.zeros(n, dtype=np.int32),
        "h_actual": np.zeros(n, dtype=np.int32),
        "pixel_sha": [None] * n,
        "phash_v": [None] * n,
        "dhash_v": [None] * n,
        "gray_mean": [None] * n,
        "gray_std": [None] * n,
    }
    for i, data in enumerate(pdf["bytes"]):
        if data is None:
            out["status"][i] = "error"  # missing payload -> Broken sentinel
            continue
        b = bytes(data)
        if len(b) == 0:
            out["size"][i] = 0
            out["sha"][i] = EMPTY_SHA256
            continue
        # content identity comes from the BYTES, before any decode attempt
        # — the reference hashes whatever it can read (Common/FsUtils.cs:
        # 39-54); its Broken sentinel means an I/O failure, not a decode
        # failure. Byte-identical corrupt files are therefore REAL exact
        # duplicates here; only pixel features are NULL for them.
        out["size"][i] = len(b)
        out["sha"][i] = hashlib.sha256(b).hexdigest()
        try:
            pixels = codecs.decode(b)
        except ValueError:
            out["status"][i] = "undecodable"  # pixel features unavailable
            continue
        out["h_actual"][i], out["w_actual"][i] = pixels.shape[0], pixels.shape[1]
        # container-insensitive content identity: sha over the DECODED
        # pixel buffer. Same pixels in different lossless containers
        # (png vs bmp) are byte-distinct but pixel-identical — the byte
        # sha misses that dup class entirely. The buffer embeds shape via
        # the grouping key (w_actual, h_actual, pixel_sha).
        out["pixel_sha"][i] = hashlib.sha256(
            np.ascontiguousarray(pixels).tobytes()
        ).hexdigest()
        # one gray conversion + one integral image shared by phash, dhash
        # and the statistics (functions/phash.gray_features)
        ph, dh, gmean, gstd = gray_features(pixels)
        out["phash_v"][i] = ph
        out["dhash_v"][i] = dh
        out["gray_mean"][i] = gmean
        out["gray_std"][i] = gstd

    # nullable Int64 (not float64!) so None never degrades int64 precision
    out["phash_v"] = pd.array(out["phash_v"], dtype="Int64")
    out["dhash_v"] = pd.array(out["dhash_v"], dtype="Int64")
    out["gray_mean"] = pd.array(out["gray_mean"], dtype="Float64")
    out["gray_std"] = pd.array(out["gray_std"], dtype="Float64")

    caps = pdf["caption"]
    norm = caps.fillna("").map(lambda c: " ".join(tokens(c)))
    out["caption_sha"] = norm.map(
        lambda c: hashlib.sha256(c.encode("utf-8")).hexdigest() if c else None
    )
    sim_vals = simhash64_batch([c.split() if c else [] for c in norm])
    out["simhash"] = pd.array(
        [v if c else None for v, c in zip(sim_vals, norm)], dtype="Int64"
    )
    out["minhash"], out["bands"] = minhash_signature_batch(caps, with_bands=True)
    return pd.DataFrame(out)


def extract_features(images: DataFrame) -> DataFrame:
    """images(image_id, bytes, caption, ...) -> compact features DataFrame."""
    cols = ["image_id", "bytes", "caption"]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _extract_batch(pdf)

    return images.select(*cols).mapInPandas(run, schema=FEATURES_SCHEMA)
