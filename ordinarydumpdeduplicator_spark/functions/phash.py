"""64-bit perceptual hash (pHash) over decoded pixels — pure numpy.

Classic DCT pHash: downscale to 32x32 grayscale (area mean), 2-D DCT-II,
take the top-left 8x8 coefficient block minus DC, threshold at the median.
Deterministic; used by the fixture generator to populate the input table's
``phash`` column and by tests to re-derive it from ``bytes``.

This is the image-side near-duplicate feature the north rule adds on top of
the reference's single content feature (SHA-1, Common/FsUtils.cs:39-54).
Small pixel perturbations (re-encode noise) flip few bits, so near-dup
images sit within a small Hamming radius — candidate generation is then
multi-index banding (operators/lsh.py).
"""

from __future__ import annotations

import numpy as np

_DCT32 = None
TILE_GRID = 4  # tile_phashes cuts an image into TILE_GRID x TILE_GRID tiles


def _dct_matrix(n: int = 32) -> np.ndarray:
    global _DCT32
    if _DCT32 is None:
        k = np.arange(n)[:, None]
        i = np.arange(n)[None, :]
        m = np.cos(np.pi / n * (i + 0.5) * k)
        m[0] *= 1.0 / np.sqrt(2.0)
        _DCT32 = m * np.sqrt(2.0 / n)
    return _DCT32


# Fixed-point luma weights: 77/256, 150/256, 29/256 (sum = 256/256). All
# gray math below runs on integers scaled by 256 — exact, deterministic,
# and ~6x less memory traffic per image than the float64 formulation
# (uint16 gray + uint32 integral vs float64 end-to-end). On a
# bandwidth-saturated host the float64 path stops scaling with cores while
# the integer path keeps the feature stage compute-bound (measured: the
# 4N-executor feature stage lost ~35% throughput to the f64 traffic).
_W_R, _W_G, _W_B = 77, 150, 29


def _gray_fp(pixels: np.ndarray) -> np.ndarray:
    """RGB HxWx3 uint8 -> HxW uint16 grayscale scaled by 256.

    Max value 255*(77+150+29) = 65280 < 2^16, and every per-channel
    product is <= 150*255 = 38250, so uint16 arithmetic is exact."""
    g = np.multiply(pixels[:, :, 0], np.uint16(_W_R), dtype=np.uint16)
    g += np.multiply(pixels[:, :, 1], np.uint16(_W_G), dtype=np.uint16)
    g += np.multiply(pixels[:, :, 2], np.uint16(_W_B), dtype=np.uint16)
    return g


def _to_gray32(pixels: np.ndarray) -> np.ndarray:
    """RGB HxWx3 uint8 -> 32x32 float grayscale via block-area mean."""
    g = _gray_fp(pixels)
    return _area_mean_resample_fp(g, _integral_fp(g), 32, 32)


def _bin_edges(n: int, bins: int) -> tuple[np.ndarray, np.ndarray]:
    """Lower/upper pixel bin edges; every bin non-empty even when n < bins."""
    e = np.floor(np.linspace(0, n, bins + 1)).astype(np.int64)
    lo = np.minimum(e[:-1], n - 1)
    hi = np.maximum(e[1:], lo + 1)
    hi = np.minimum(hi, n)
    hi = np.maximum(hi, lo + 1)
    return lo, hi


def _integral_fp(g: np.ndarray) -> np.ndarray:
    """Integer integral image of the uint16 fixed-point gray. uint32 when
    the worst-case total fits (any frame < ~8.2 MP), else int64 — exact
    either way."""
    h, w = g.shape
    dt = np.uint32 if h * w * 65280 < (1 << 32) else np.int64
    csum = np.zeros((h + 1, w + 1), dtype=dt)
    np.cumsum(g, axis=0, dtype=dt, out=csum[1:, 1:])
    np.cumsum(csum[1:, 1:], axis=1, out=csum[1:, 1:])
    return csum


def _area_mean_resample_fp(
    g: np.ndarray, csum: np.ndarray, out_h: int, out_w: int
) -> np.ndarray:
    """Block-area-mean resample from the INTEGER integral image; returns
    float64 gray values on the 0-255 luma scale (the fixed-point sums
    divided back by 256). The gathers are tiny (out_h+1 x out_w+1), so
    the int64 casts cost nothing; grouping keeps unsigned intermediates
    non-negative."""
    h, w = g.shape
    y0, y1 = _bin_edges(h, out_h)
    x0, x1 = _bin_edges(w, out_w)
    c11 = csum[np.ix_(y1, x1)].astype(np.int64)
    c01 = csum[np.ix_(y0, x1)].astype(np.int64)
    c10 = csum[np.ix_(y1, x0)].astype(np.int64)
    c00 = csum[np.ix_(y0, x0)].astype(np.int64)
    s = (c11 - c01) - (c10 - c00)
    area = np.outer(y1 - y0, x1 - x0).astype(np.float64)
    return s / (area * 256.0)


def _pack_bits_msb(bits: np.ndarray) -> int:
    """64 bool bits (MSB first) -> signed int64, vectorized packbits."""
    v = int.from_bytes(np.packbits(bits).tobytes(), "big")
    if v >= 1 << 63:
        v -= 1 << 64
    return v


def _phash_from_g32(g32: np.ndarray) -> int:
    m = _dct_matrix(32)
    d = m @ g32 @ m.T
    block = d[:8, :8].flatten()
    coeffs = block[1:]  # drop DC
    med = np.median(coeffs)
    bits = np.zeros(64, dtype=bool)
    bits[1:] = coeffs > med
    return _pack_bits_msb(bits)


def phash64(pixels: np.ndarray) -> int:
    """64-bit perceptual hash as a signed int64 (Spark LongType friendly).

    Gray + area means run in exact fixed-point (see `_gray_fp`); the DCT
    itself stays float64 on the 32x32 downsample (tiny, cache-resident)."""
    return _phash_from_g32(_to_gray32(pixels))


def hamming64(a: int, b: int) -> int:
    return int(bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1"))


def _dhash_from_small(small: np.ndarray) -> int:
    bits = (small[:, 1:] > small[:, :-1]).flatten()
    return _pack_bits_msb(bits)


def dhash64(pixels: np.ndarray) -> int:
    """64-bit difference hash (row-gradient sign on an 8x9 grayscale
    downsample) — the standard complement to DCT pHash: dHash keys on
    local edge structure where pHash keys on global low-frequency energy,
    so together they separate near-dup classes neither catches alone."""
    g = _gray_fp(pixels)
    return _dhash_from_small(_area_mean_resample_fp(g, _integral_fp(g), 8, 9))


def tile_phashes(pixels: np.ndarray) -> list[int]:
    """TILE_GRID x TILE_GRID per-tile 64-bit pHashes (row-major), ONE gray
    conversion + ONE integral image shared by every tile: tile (ty, tx)'s
    32x32 area-mean downsample is gathered straight from the full-image
    integral by offsetting its bin edges into the tile rectangle, so the
    only per-tile work is a (33x33) gather plus the 32x32 DCT.

    Tile boundaries come from ``_bin_edges(h, grid)`` — deterministic and
    total (uneven dimensions distribute the remainder), and each tile's
    hash is bit-identical to ``phash64(pixels[y0:y1, x0:x1])`` because the
    offset bin edges reproduce exactly that crop's resample bins.

    Used by operators/image_region_dedup.py: per-tile hashes keep identity
    evidence in the tiles a local edit (watermark, banner, caption box)
    did NOT touch, where the global pHash mixes the edit into every
    coefficient and can exceed any usable Hamming radius."""
    g = _gray_fp(pixels)
    csum = _integral_fp(g)
    h, w = g.shape
    grid = TILE_GRID
    ylo, yhi = _bin_edges(h, grid)
    xlo, xhi = _bin_edges(w, grid)
    out: list[int] = []
    for ty in range(grid):
        y0, y1 = _bin_edges(int(yhi[ty] - ylo[ty]), 32)
        y0, y1 = y0 + ylo[ty], y1 + ylo[ty]
        for tx in range(grid):
            x0, x1 = _bin_edges(int(xhi[tx] - xlo[tx]), 32)
            x0, x1 = x0 + xlo[tx], x1 + xlo[tx]
            c11 = csum[np.ix_(y1, x1)].astype(np.int64)
            c01 = csum[np.ix_(y0, x1)].astype(np.int64)
            c10 = csum[np.ix_(y1, x0)].astype(np.int64)
            c00 = csum[np.ix_(y0, x0)].astype(np.int64)
            s = (c11 - c01) - (c10 - c00)
            area = np.outer(y1 - y0, x1 - x0).astype(np.float64)
            out.append(_phash_from_g32(s / (area * 256.0)))
    return out


def gray_features(pixels: np.ndarray) -> tuple[int, int, float, float]:
    """(phash64, dhash64, gray_mean, gray_std) in ONE pass: the RGB->gray
    conversion and the integral image are computed once and shared by both
    downsamples and the statistics — the per-image hot path of the feature
    stage (operators/features.py). Bit-identical to phash64/dhash64: same
    fixed-point gray, same integral, same resample arithmetic.

    All large intermediates are integer (uint16 gray, uint32 integral):
    exact, deterministic, and ~6x less memory traffic than float64 — the
    difference between a feature stage that scales with executors and one
    that saturates the node's memory subsystem (BENCH/BASELINE.md)."""
    g = _gray_fp(pixels)
    csum = _integral_fp(g)
    h, w = g.shape
    n = h * w
    ph = _phash_from_g32(_area_mean_resample_fp(g, csum, 32, 32))
    dh = _dhash_from_small(_area_mean_resample_fp(g, csum, 8, 9))
    # mean/std from the integral total + one integer sum of squares:
    # sum(g_fp)^2 <= (2^16)^2 * 8.2e6 < 2^63, exact in int64
    total = int(csum[-1, -1])
    sumsq = int(np.einsum("ij,ij->", g, g, dtype=np.int64))
    mean_fp = total / n
    var_fp = sumsq / n - mean_fp * mean_fp
    gmean = mean_fp / 256.0
    gstd = float(np.sqrt(max(var_fp, 0.0))) / 256.0
    return ph, dh, gmean, gstd
