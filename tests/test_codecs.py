"""Codec + phash unit tests (no Spark)."""

import numpy as np
import pytest

from ordinarydumpdeduplicator_spark.fixtures import codecs
from ordinarydumpdeduplicator_spark.functions.phash import (
    _gray_fp,
    dhash64,
    gray_features,
    hamming64,
    phash64,
)


@pytest.fixture
def pixels():
    rng = np.random.default_rng(7)
    return rng.integers(0, 256, (24, 32, 3), dtype=np.uint8).astype(np.uint8)


@pytest.mark.parametrize("fmt", ["bmp", "png"])
def test_lossless_roundtrip(pixels, fmt):
    back = codecs.decode(codecs.encode(pixels, fmt))
    assert np.array_equal(pixels, back)


def test_lossy_roundtrip_psnr(pixels):
    back = codecs.decode(codecs.encode(pixels, "jpg"))
    assert back.shape == pixels.shape
    # mandated per-row fidelity floor (BASELINE.json input_hint)
    assert codecs.psnr(pixels, back) >= 40.0


def test_lossy_is_deterministic(pixels):
    assert codecs.encode(pixels, "jpg") == codecs.encode(pixels, "jpg")


def test_unreadable_raises():
    for payload in (b"", b"BM", b"BM" + b"\x00" * 20, b"garbage!!"):
        with pytest.raises(ValueError):
            codecs.decode(payload)


def test_truncated_png_raises(pixels):
    data = codecs.encode(pixels, "png")
    with pytest.raises(ValueError):
        codecs.decode(data[: len(data) // 2])


def test_phash_identical_pixels(pixels):
    assert phash64(pixels) == phash64(pixels.copy())


def test_phash_robust_to_mild_noise():
    # structured image, as the generator produces
    from ordinarydumpdeduplicator_spark.fixtures.generator import _make_pixels, _rng

    px = _make_pixels(_rng(42, "t", 0), 32, 24)
    noisy = np.clip(px.astype(np.int16) + 1, 0, 255).astype(np.uint8)
    assert hamming64(phash64(px), phash64(noisy)) <= 4


def test_phash_separates_different_images():
    from ordinarydumpdeduplicator_spark.fixtures.generator import _make_pixels, _rng

    a = phash64(_make_pixels(_rng(42, "t", 1), 32, 24))
    b = phash64(_make_pixels(_rng(42, "t", 2), 32, 24))
    assert hamming64(a, b) > 10


def test_avi_rgb_roundtrip_is_pixel_exact():
    """The engine's video decode (video_dedup.video_fingerprints) reads
    every frame of an uncompressed RGB AVI back pixel-exact, odd widths
    (row padding) included; a truncated RIFF raises ValueError."""
    rng = np.random.default_rng(7)
    src = [rng.integers(0, 256, size=(20, 30, 3), dtype=np.uint8)
           for _ in range(9)]
    avi = codecs.encode_avi_rgb(src, fps=3)
    frames = codecs.decode_avi_rgb(avi)
    assert len(frames) == len(src)
    for got, want in zip(frames, src):
        assert np.array_equal(got, want)
    odd = [rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)]
    assert np.array_equal(
        codecs.decode_avi_rgb(codecs.encode_avi_rgb(odd, fps=1))[0], odd[0]
    )
    with pytest.raises(ValueError):
        codecs.decode_avi_rgb(avi[:100])


@pytest.mark.parametrize(
    "shape", [(1, 1), (2, 3), (7, 5), (8, 9), (31, 33), (192, 256), (1, 300)]
)
def test_gray_features_match_phash_dhash(shape):
    """The feature stage's one-pass gray_features is bit-identical to the
    standalone phash64/dhash64, and its gray mean/std equal float64 numpy
    over the same fixed-point gray, on shapes below, at and above the
    32x32 / 8x9 resample grids."""
    rng = np.random.default_rng(shape[0] * 1000 + shape[1])
    for _ in range(4):
        px = rng.integers(0, 256, size=(*shape, 3), dtype=np.uint8)
        ph, dh, gmean, gstd = gray_features(px)
        assert ph == phash64(px)
        assert dh == dhash64(px)
        gray = _gray_fp(px).astype(np.float64) / 256.0
        assert abs(gmean - gray.mean()) < 1e-9
        assert abs(gstd - gray.std()) < 1e-9


def test_corrupt_body_with_valid_magic_raises_valueerror():
    """A payload with a valid magic but corrupt body must raise ValueError
    (not zlib/struct errors) so per-row feature extraction marks the row
    unreadable instead of failing the task."""
    import struct

    import pytest

    from ordinarydumpdeduplicator_spark.fixtures import codecs

    # PNG magic + IHDR + garbage IDAT (not a deflate stream)
    ihdr = codecs._png_chunk(
        b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
    )
    idat = codecs._png_chunk(b"IDAT", b"\xff\xfe\xfd\xfc")
    bad_png = b"\x89PNG\r\n\x1a\n" + ihdr + idat
    with pytest.raises(ValueError):
        codecs.decode(bad_png)

    # truncated simulated-jpeg body
    good = codecs.encode_ljpg(
        __import__("numpy").zeros((8, 8, 3), dtype="uint8")
    )
    with pytest.raises(ValueError):
        codecs.decode(good[:12])
