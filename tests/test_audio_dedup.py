"""Audio near-dup dedup: planted-class golden clusters + tier
attribution over the generic segment core (operators/audio_dedup.py)."""

import numpy as np
import pytest

from ordinarydumpdeduplicator_spark.fixtures.codecs import encode_wav
from ordinarydumpdeduplicator_spark.functions.phash import hamming64
from ordinarydumpdeduplicator_spark.operators.audio_dedup import (
    audio_dedup_report,
    audio_fingerprints,
    decode_wav,
    spectral_hash64,
)

SR, N, SEG = 8000, 16384, 2048  # 2 s clips, 8 full segments


def _tone(unit: str) -> np.ndarray:
    """Deterministic BROADBAND clip (unit-colored filtered noise + slow
    envelope). Broadband matters: a pure-tone spectrum leaves most of
    the hash's 65 bands at the noise floor, where sign-of-difference
    bits are decided by noise — real speech/music (and this fixture)
    fills the bands, so the spectral-shape hash is stable under
    re-quantization and light additive noise."""
    import hashlib

    seed = int.from_bytes(
        hashlib.blake2b(f"aud:{unit}".encode(), digest_size=4).digest(),
        "little",
    )
    rng = np.random.default_rng(seed)
    x = rng.standard_normal(N + 64)
    kern = rng.standard_normal(48) * np.hanning(48)
    x = np.convolve(x, kern, mode="same")[:N]
    t = np.arange(N) / SR
    env = 0.6 + 0.4 * np.sin(2 * np.pi * rng.uniform(0.5, 2.0) * t)
    x = x * env
    return x / (np.abs(x).max() + 1e-9) * 0.8


@pytest.fixture(scope="module")
def corpus(spark):
    """Planted classes:
      exact          a0 == a1 byte-identical
      segment_exact  a2 vs a3: same waveform, 16-bit vs 32-bit PCM
                     (container bytes differ, spectral shape doesn't)
      segment_near   a4 vs a5: first two SEGMENTS trimmed + light noise
                     (fixed-length segmentation keeps the survivors
                     aligned)
      unique         a6, a7
      broken         a8 (truncated RIFF)
      unreadable     a9 (NULL)
      fake           a10 (non-WAV container)
    """
    xa, xb, xc = _tone("a"), _tone("b"), _tone("c")
    rng = np.random.default_rng(9)
    base_a = encode_wav(xa, 2)
    near = xc[2 * SEG:] + rng.normal(0, 0.002, N - 2 * SEG)
    rows = [
        ("a00", base_a),
        ("a01", base_a),
        ("a02", encode_wav(xb, 2)),
        ("a03", encode_wav(xb, 4)),
        ("a04", encode_wav(xc, 2)),
        ("a05", encode_wav(near, 2)),
        ("a06", encode_wav(_tone("d"), 2)),
        ("a07", encode_wav(_tone("e"), 2)),
        ("a08", encode_wav(xa, 2)[:40]),
        ("a09", None),
        ("a10", b"fLaC-not-a-riff-payload" * 3),
    ]
    return spark.createDataFrame(rows, "audio_id string, bytes binary")


@pytest.fixture(scope="module")
def report(corpus):
    r = audio_dedup_report(corpus, min_match_frac=0.4)
    return {k: v.toPandas() for k, v in r.items()}


def test_statuses(report):
    st = dict(zip(report["fingerprints"].audio_id,
                  report["fingerprints"].status))
    assert st == {
        "a00": "ok", "a01": "ok", "a02": "ok", "a03": "ok",
        "a04": "ok", "a05": "ok", "a06": "ok", "a07": "ok",
        "a08": "broken", "a09": "unreadable", "a10": "fake_decode",
    }


def test_requant_hashes_identical(report):
    """16-bit vs 32-bit PCM of the same waveform: identical segment
    hashes (the spectral-shape hash is amplitude/quantization
    invariant)."""
    fp = report["fingerprints"].set_index("audio_id")
    assert list(fp.loc["a02", "segment_hashes"]) == list(
        fp.loc["a03", "segment_hashes"]
    )


def test_golden_clusters_and_tiers(report):
    cl = dict(zip(report["clusters"].audio_id, report["clusters"].cluster_id))
    assert cl["a00"] == cl["a01"]
    assert cl["a02"] == cl["a03"]
    assert cl["a04"] == cl["a05"]
    assert len({cl["a00"], cl["a02"], cl["a04"]}) == 3
    for a in ("a06", "a07", "a08", "a09", "a10"):
        assert cl[a] == a, a
    t = dict(zip(report["tiers"].audio_id, report["tiers"].tier))
    assert t["a01"] == "exact"
    assert t["a03"] == "segment_exact"
    assert t["a05"] == "segment_near"
    assert {a for a, tier in t.items() if tier == "canonical"} == {
        "a00", "a02", "a04"
    }
    for a in ("a06", "a07", "a08", "a09", "a10"):
        assert t[a] == "unique", a


def test_trim_noise_hashes_near(report):
    """The trimmed+noised copy's segments match the source's at small
    Hamming for most aligned segments (trim drops 2 of 8 fixed-length
    segments, so 6 survive bit-aligned)."""
    fp = report["fingerprints"].set_index("audio_id")
    ha = [int(x) for x in fp.loc["a04", "segment_hashes"]]
    hb = [int(x) for x in fp.loc["a05", "segment_hashes"]]
    matched = sum(1 for b in hb if any(hamming64(a, b) <= 6 for a in ha))
    assert matched >= len(hb) // 2


def test_spectral_hash_invariances():
    rng = np.random.default_rng(3)
    x = _tone("inv")[:2000]
    h = spectral_hash64(x)
    assert spectral_hash64(x * 0.3) == h           # amplitude invariant
    noisy = x + rng.normal(0, 0.002, len(x))
    assert hamming64(h, spectral_hash64(noisy)) <= 6
    assert hamming64(h, spectral_hash64(_tone("zzz")[:2000])) > 12
    assert spectral_hash64(np.zeros(2000)) == 0    # silence
    assert spectral_hash64(np.zeros(10)) == 0      # too short


def _pcm_wav(pcm: np.ndarray, channels: int, sr: int = 8000) -> bytes:
    """16-bit PCM WAV with the stdlib writer; each sample repeated on
    every channel."""
    import io
    import wave

    frames = np.repeat(pcm[:, None], channels, axis=1)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(frames.tobytes())
    return buf.getvalue()


def test_decode_wav_real_decode_and_stereo_downmix():
    """decode_wav is a REAL PCM decode (stdlib wave): a 440 Hz sine reads
    back at its rate and amplitude, a stereo copy averages to the same
    mono waveform, and a truncated RIFF raises."""
    t = np.arange(4000) / 8000
    pcm = (np.sin(2 * np.pi * 440.0 * t) * 32767).astype("<i2")
    mono_wav = _pcm_wav(pcm, channels=1)
    mono, sr = decode_wav(mono_wav)
    assert len(mono) == 4000
    assert sr == 8000
    # sine rms = 1/sqrt(2); int16 quantization keeps it within 1e-3
    rms = float(np.sqrt((mono ** 2).mean()))
    assert abs(rms - 1 / np.sqrt(2)) < 1e-3
    # 440 Hz over 0.5 s crosses zero ~2*440*0.5 times
    assert abs(int(np.count_nonzero(np.diff(np.signbit(mono)))) - 440) <= 2
    stereo, stereo_sr = decode_wav(_pcm_wav(pcm, channels=2))
    assert stereo_sr == 8000
    assert np.array_equal(stereo, mono)
    with pytest.raises(Exception):
        decode_wav(mono_wav[:30])


def test_strict_raises_on_non_wav(spark):
    df = spark.createDataFrame(
        [("x", b"OggS-not-wav")], "audio_id string, bytes binary"
    )
    with pytest.raises(Exception, match="NotImplementedError|libsndfile"):
        audio_fingerprints(df, strict=True).collect()


def test_empty_input(spark):
    empty = spark.createDataFrame([], "audio_id string, bytes binary")
    r = audio_dedup_report(empty)
    assert r["tiers"].count() == 0


def test_segment_novelty_audio(spark, corpus):
    """The same incremental verdict operator over audio fingerprints."""
    from ordinarydumpdeduplicator_spark.fixtures.codecs import encode_wav
    from ordinarydumpdeduplicator_spark.operators.segment_dedup import (
        segment_novelty,
    )

    ref = audio_fingerprints(corpus)
    batch_rows = [
        ("b_reenc", encode_wav(_tone("a"), 4)),   # a00 re-encoded
        ("b_new", encode_wav(_tone("zz"), 2)),
    ]
    batch = audio_fingerprints(
        spark.createDataFrame(batch_rows, "audio_id string, bytes binary")
    )
    out = {r.audio_id: r for r in segment_novelty(
        batch, ref, id_col="audio_id", hashes_col="segment_hashes"
    ).collect()}
    assert not out["b_reenc"].is_novel
    assert out["b_reenc"].match_ref_id in ("a00", "a01")
    assert out["b_new"].is_novel
