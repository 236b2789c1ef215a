"""MinHash signatures over caption shingles — vectorized Arrow UDF.

The near-dup analogue of the reference's single content feature (SHA-1,
Common/FsUtils.cs:39-54): instead of one exact hash per payload, we compute
``NUM_HASHES`` min-wise hashes over the caption's word-shingle set, so that
P[minhash_j(A) == minhash_j(B)] = Jaccard(A, B).

Hash family: multiply-shift universal hashing over the stable 64-bit shingle
hashes — ``h_j(x) = ((a_j * x + b_j) mod 2^64) >> 32`` with seeded odd
``a_j``. Entirely numpy inside a pandas UDF (Arrow batches, no per-row
Python — BASELINE.json input_hint).

LSH parameters: NUM_HASHES = BANDS * ROWS_PER_BAND = 32 * 4. Detection
probability 1-(1-J^4)^32: J=0.9 -> ~1.0, J=0.7 -> 0.9998, J=0.5 -> 0.87.
Chosen so the >=0.99 dup-pair recall target holds for the J>=0.65 golden
tier with margin (SURVEY.md §7 phase 4).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .text import jaccard, shingle_hashes, shingles

NUM_HASHES = 128
BANDS = 32
ROWS_PER_BAND = 4
_HASH_SEED = 0x5EED_0DD0


def _coeffs(num_hashes: int = NUM_HASHES, seed: int = _HASH_SEED):
    # a is odd and < 2^63 (not full 64-bit): the DuckDB oracle reproduces
    # h_j in signed 128-bit (HUGEINT) arithmetic, and a < 2^63 keeps
    # a*x + b < 2^127 for any 64-bit shingle hash x. Halving the
    # multiply-shift family loses nothing measurable.
    rng = np.random.default_rng(seed)
    a = rng.integers(0, 1 << 62, size=num_hashes, dtype=np.uint64) * 2 + 1
    b = rng.integers(0, 1 << 63, size=num_hashes, dtype=np.uint64)
    return a, b


_A, _B = _coeffs()


def minhash_signature(text: str | None) -> list[int] | None:
    """Pure-python/numpy signature for one text (oracle + generator side).

    Returns None for texts with no shingles (empty caption)."""
    sh = shingle_hashes(text)
    if sh.size == 0:
        return None
    # (num_hashes, n_shingles) multiply-shift, min over shingles
    with np.errstate(over="ignore"):
        vals = (_A[:, None] * sh[None, :] + _B[:, None]) >> np.uint64(32)
    return vals.min(axis=1).astype(np.int64).tolist()


def band_keys_from_mins(mins: np.ndarray) -> np.ndarray:
    """(NUM_HASHES, n_docs) signature matrix -> (BANDS, n_docs) band keys.

    Band key = 64-bit mix (splitmix-style multiply-xor fold) of the band's
    ROWS_PER_BAND signature values + the band index, fully vectorized.
    Equal band slices <=> equal keys (up to negligible 64-bit collisions) —
    the same contract as hashing the slice, but computed in the Arrow UDF
    where it costs one numpy pass instead of per-row JVM array slicing."""
    u = mins.astype(np.uint64).reshape(BANDS, ROWS_PER_BAND, -1)
    with np.errstate(over="ignore"):
        acc = np.full(
            (BANDS, u.shape[2]),
            np.uint64(0x9E3779B97F4A7C15),
            dtype=np.uint64,
        )
        acc ^= np.arange(BANDS, dtype=np.uint64)[:, None] * np.uint64(
            0xBF58476D1CE4E5B9
        )
        for r in range(ROWS_PER_BAND):
            acc = (acc ^ u[:, r, :]) * np.uint64(0x94D049BB133111EB)
            acc ^= acc >> np.uint64(31)
    return acc.astype(np.int64)


def minhash_signature_batch(
    texts: pd.Series, with_bands: bool = False
) -> pd.Series | tuple[pd.Series, pd.Series]:
    """Vectorized batch: one Arrow batch of captions -> signatures.

    Shingle-hash arrays for the whole batch are concatenated and all
    NUM_HASHES functions are applied in one numpy pass; per-document minima
    come from ``np.minimum.reduceat`` over segment offsets — no per-row
    numpy re-dispatch. ``with_bands`` additionally returns the LSH band
    keys (computed here, where it is one vectorized pass, rather than
    JVM-side per-row slice hashing)."""
    hash_arrays = [shingle_hashes(t) for t in texts]
    lengths = np.array([h.size for h in hash_arrays], dtype=np.int64)
    nonempty = lengths > 0
    if not nonempty.any():
        empty = pd.Series([None] * len(texts), index=texts.index, dtype=object)
        return (empty, empty.copy()) if with_bands else empty
    concat = np.concatenate([h for h in hash_arrays if h.size])
    with np.errstate(over="ignore"):
        vals = (_A[:, None] * concat[None, :] + _B[:, None]) >> np.uint64(32)
    offsets = np.zeros(int(nonempty.sum()), dtype=np.int64)
    np.cumsum(lengths[nonempty][:-1], out=offsets[1:])
    mins = np.minimum.reduceat(vals, offsets, axis=1).astype(np.int64)
    out: list[list[int] | None] = [None] * len(texts)
    bands: list[list[int] | None] = [None] * len(texts)
    band_mat = band_keys_from_mins(mins) if with_bands else None
    j = 0
    for i, ne in enumerate(nonempty):
        if ne:
            out[i] = mins[:, j].tolist()
            if band_mat is not None:
                bands[i] = band_mat[:, j].tolist()
            j += 1
    sig = pd.Series(out, index=texts.index, dtype=object)
    if with_bands:
        return sig, pd.Series(bands, index=texts.index, dtype=object)
    return sig


@F.pandas_udf(T.ArrayType(T.LongType()))
def minhash_udf(captions: pd.Series) -> pd.Series:
    return minhash_signature_batch(captions)


@F.pandas_udf(T.ArrayType(T.LongType()))
def band_keys_udf(captions: pd.Series) -> pd.Series:
    """text -> LSH band keys (BANDS longs), vectorized end-to-end."""
    _sig, bands = minhash_signature_batch(captions, with_bands=True)
    return bands


def exact_jaccard(text_a: str | None, text_b: str | None) -> float:
    """Slow exact word-shingle Jaccard (verification oracle)."""
    return jaccard(shingles(text_a), shingles(text_b))


@F.pandas_udf(T.DoubleType())
def jaccard_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [exact_jaccard(x, y) for x, y in zip(a, b)], index=a.index, dtype=float
    )
