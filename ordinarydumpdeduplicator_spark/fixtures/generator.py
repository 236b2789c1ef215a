"""Deterministic synthetic image+caption corpus with planted ground truth.

Implements FIXTURES.md §1: the input table mandated by BASELINE.json
``input_hint`` — ``(image_id, bytes, w, h, fmt, caption, phash)`` — with
seed-fixed planted row classes mirroring the reference's semantics:

1. exact duplicates  — identical bytes, distinct ids (BlobInfo equality,
   Common/BlobInfo.cs:143-164); groups of 2-5
2. empty payloads    — one canonical duplicate group (Common/BlobInfo.cs:44-51)
3. unreadable rows   — undecodable bytes, excluded from grouping
   (Common/BlobInfo.cs:53-55; DataControllerSimple.cs:263-275)
4. near-dup images   — same source pixels re-encoded (PSNR>=40dB), phash
   Hamming small
5. near-dup captions — paraphrases at shingle-Jaccard tiers ~0.9/0.7/0.5
6. skew probe        — a hot constant caption ("photo") on >=5% of rows
7. true uniques

Every row is generated independently from ``(seed, class, index)`` so the
same corpus can be produced driver-side (tests) or distributed via
``spark.range(n).mapInPandas`` (bench scale) with identical content.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from ..functions.phash import phash64
from ..functions.text import jaccard, shingles
from . import codecs

HOT_CAPTION = "photo"
SEED = 42  # the fixture corpora's seed
VIDEO_FRAMES = 8  # frames per generated video
AUDIO_CLIP_LEN = 16384  # samples per generated clip (2 s at codecs.WAV_SR)

# class fractions (of n rows); remainder = uniques
FRAC = {
    "exact": 0.12,
    "empty": 0.01,
    "unreadable": 0.02,
    "image_near": 0.08,
    "caption_near": 0.12,
    "hot": 0.06,
}

_VOCAB = [
    "sunset", "mountain", "river", "forest", "beach", "city", "street",
    "portrait", "dog", "cat", "bird", "flower", "tree", "cloud", "rain",
    "snow", "bridge", "tower", "market", "harbor", "island", "desert",
    "valley", "lake", "garden", "child", "woman", "man", "group", "crowd",
    "red", "blue", "green", "golden", "dark", "bright", "old", "young",
    "small", "large", "vintage", "modern", "aerial", "macro", "night",
    "morning", "winter", "summer", "autumn", "spring", "standing",
    "running", "sitting", "walking", "flying", "swimming", "holding",
    "wearing", "smiling", "looking", "under", "over", "beside", "behind",
    "near", "inside", "outside", "against", "between", "through",
]


def _rng(seed: int, *parts) -> np.random.Generator:
    key = ":".join(str(p) for p in parts)
    h = hashlib.blake2b(f"{seed}|{key}".encode(), digest_size=8).digest()
    return np.random.default_rng(int.from_bytes(h, "little"))


def _make_pixels(rng: np.random.Generator, w: int, h: int) -> np.ndarray:
    """Structured image whose pHash is stable under mild re-encode noise.

    A coarse random block pattern (upsampled 8x6 grid) concentrates energy
    in exactly the low-frequency DCT coefficients pHash thresholds, so the
    64 hash bits are well-separated from the median and survive +-1 pixel
    noise / lossy quantization; a gradient adds global structure."""
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    base = np.zeros((h, w, 3), dtype=np.float64)
    for c in range(3):
        gx, gy = rng.uniform(-1, 1, 2)
        base[:, :, c] = 128 + 40 * (gx * xx / max(w - 1, 1) + gy * yy / max(h - 1, 1))
    coarse = rng.uniform(-70, 70, size=(6, 8, 3))
    base += np.kron(coarse, np.ones((max(h // 6, 1), max(w // 8, 1), 1)))[:h, :w, :]
    return np.clip(base, 5, 250).astype(np.uint8)


def _make_caption(rng: np.random.Generator, n_words: int = 24) -> list[str]:
    return [str(w) for w in rng.choice(_VOCAB, size=n_words, replace=True)]


def _perturb_caption(rng: np.random.Generator, words: list[str], n_replace: int) -> list[str]:
    out = list(words)
    positions = rng.choice(len(out), size=min(n_replace, len(out)), replace=False)
    for p in positions:
        out[int(p)] = str(_VOCAB[int(rng.integers(0, len(_VOCAB)))])
    return out


@dataclass
class CorpusPlan:
    """Deterministic index layout of the planted classes for n rows."""

    n: int
    exact_members: int
    empty_members: int
    unreadable_members: int
    image_near_pairs: int
    caption_near_pairs: int
    hot_members: int
    exact_group_sizes: list[int] = field(default_factory=list)

    @classmethod
    def make(cls, n: int) -> "CorpusPlan":
        exact = max(4, int(n * FRAC["exact"]))
        # groups cycle sizes 2,3,4,5 until `exact` members consumed
        sizes, tot, cyc = [], 0, [2, 3, 4, 5]
        while tot < exact:
            s = cyc[len(sizes) % 4]
            sizes.append(s)
            tot += s
        empty = max(2, int(n * FRAC["empty"]))
        unread = max(2, int(n * FRAC["unreadable"]))
        img_pairs = max(2, int(n * FRAC["image_near"]) // 2)
        cap_pairs = max(3, int(n * FRAC["caption_near"]) // 2)
        hot = max(3, int(n * FRAC["hot"]))
        return cls(n, tot, empty, unread, img_pairs, cap_pairs, hot, sizes)

    def class_ranges(self) -> list[tuple[str, int]]:
        """(class, member_count) in fixed order; uniques fill the rest."""
        used = (
            self.exact_members + self.empty_members + self.unreadable_members
            + 2 * self.image_near_pairs + 2 * self.caption_near_pairs
            + self.hot_members
        )
        return [
            ("exact", self.exact_members),
            ("empty", self.empty_members),
            ("unreadable", self.unreadable_members),
            ("image_near", 2 * self.image_near_pairs),
            ("caption_near", 2 * self.caption_near_pairs),
            ("hot", self.hot_members),
            ("unique", max(self.n - used, 0)),
        ]

    def locate(self, i: int) -> tuple[str, int, int]:
        """row index -> (class, unit_index, member_index_within_unit)."""
        off = 0
        for cls_name, count in self.class_ranges():
            if i < off + count:
                j = i - off
                if cls_name == "exact":
                    g, acc = 0, 0
                    for g, s in enumerate(self.exact_group_sizes):
                        if j < acc + s:
                            return ("exact", g, j - acc)
                        acc += s
                if cls_name in ("image_near", "caption_near"):
                    return (cls_name, j // 2, j % 2)
                return (cls_name, j, 0)
            off += count
        return ("unique", i, 0)


CAPTION_TIERS = [1, 2, 8]  # words replaced out of 24 -> shingle J ~.78/.6/.2;
# only pairs whose MEASURED shingle Jaccard >= 0.65 enter golden_pairs


def gen_row(
    i: int,
    plan: CorpusPlan,
    seed: int,
    img_size: tuple[int, int] = (32, 24),
    fmts: tuple[str, ...] = ("png", "bmp", "jpg"),
) -> dict:
    """Generate row i of the corpus — pure function of (i, plan.n, seed,
    img_size, fmts). ``img_size`` scales the pixel payload: tests use the
    tiny default; the scaling bench uses larger frames so per-image decode
    cost is representative of a real corpus. ``fmts`` sets the container
    mix (bench uses png+jpg — raw BMP is not what a web-scale corpus
    stores)."""
    cls_name, unit, member = plan.locate(i)
    image_id = f"img_{i:09d}"
    w, h = img_size

    if cls_name == "empty":
        return dict(image_id=image_id, bytes=b"", w=0, h=0, fmt="png",
                    caption="", phash=0, _class=cls_name, _unit=unit)

    if cls_name == "unreadable":
        rng = _rng(seed, "unread", unit)
        garbage = b"BM" + bytes(rng.integers(0, 256, size=20, dtype=np.uint8))
        cap = " ".join(_make_caption(rng, 12))
        return dict(image_id=image_id, bytes=garbage, w=w, h=h, fmt="bmp",
                    caption=cap, phash=0, _class=cls_name, _unit=unit)

    if cls_name == "exact":
        rng = _rng(seed, "exact", unit)
        pixels = _make_pixels(rng, w, h)
        lossless = [f for f in fmts if f != "jpg"] or ["png"]
        fmt = lossless[unit % len(lossless)]  # lossless -> identical bytes
        data = codecs.encode(pixels, fmt)
        cap = " ".join(_make_caption(rng, 16))
        ph = phash64(codecs.decode(data))
        return dict(image_id=image_id, bytes=data, w=w, h=h, fmt=fmt,
                    caption=cap, phash=ph, _class=cls_name, _unit=unit)

    if cls_name == "image_near":
        rng = _rng(seed, "imgnear", unit)
        pixels = _make_pixels(rng, w, h)
        cap_words = _make_caption(rng, 16)
        if member == 0:
            data, fmt = codecs.encode(pixels, "png"), "png"
            cap = " ".join(cap_words)
        else:
            noisy = np.clip(
                pixels.astype(np.int16)
                + rng.integers(-1, 2, size=pixels.shape, dtype=np.int16),
                0, 255,
            ).astype(np.uint8)
            data, fmt = codecs.encode(noisy, "jpg"), "jpg"
            # caption deliberately unrelated: pair must cluster via phash
            cap = " ".join(_make_caption(_rng(seed, "imgnear-cap", unit), 16))
        ph = phash64(codecs.decode(data))
        return dict(image_id=image_id, bytes=data, w=w, h=h, fmt=fmt,
                    caption=cap, phash=ph, _class=cls_name, _unit=unit)

    if cls_name == "caption_near":
        rng = _rng(seed, "capnear", unit)
        base_words = _make_caption(rng, 24)
        tier = CAPTION_TIERS[unit % len(CAPTION_TIERS)]
        words = base_words if member == 0 else _perturb_caption(
            _rng(seed, "capnear-perturb", unit), base_words, tier
        )
        pixels = _make_pixels(_rng(seed, "capnear-img", unit, member), w, h)
        fmt = fmts[(unit + member) % len(fmts)]
        data = codecs.encode(pixels, fmt)
        ph = phash64(codecs.decode(data))
        return dict(image_id=image_id, bytes=data, w=w, h=h, fmt=fmt,
                    caption=" ".join(words), phash=ph, _class=cls_name, _unit=unit)

    if cls_name == "hot":
        rng = _rng(seed, "hot", unit)
        pixels = _make_pixels(rng, w, h)
        data = codecs.encode(pixels, "png")
        ph = phash64(codecs.decode(data))
        return dict(image_id=image_id, bytes=data, w=w, h=h, fmt="png",
                    caption=HOT_CAPTION, phash=ph, _class=cls_name, _unit=unit)

    rng = _rng(seed, "unique", unit)
    pixels = _make_pixels(rng, w, h)
    fmt = fmts[unit % len(fmts)]
    data = codecs.encode(pixels, fmt)
    cap = " ".join(_make_caption(rng, 14)) + f" uid{unit}"
    ph = phash64(codecs.decode(data))
    return dict(image_id=image_id, bytes=data, w=w, h=h, fmt=fmt,
                caption=cap, phash=ph, _class=cls_name, _unit=unit)


IMAGE_COLS = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]


def make_corpus(
    n: int,
    img_size: tuple[int, int] = (32, 24),
    fmts: tuple[str, ...] = ("png", "bmp", "jpg"),
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Driver-side corpus: (images_pdf with hidden _class/_unit, golden_pairs).

    golden_pairs: (image_id_a < image_id_b, kind) — the recall denominator.
    kinds: exact (incl. empty group), image_near, caption_near (measured
    shingle Jaccard >= 0.65 only — lower tiers are planted but NOT required),
    hot (identical hot caption).
    """
    plan = CorpusPlan.make(n)
    rows = [gen_row(i, plan, SEED, img_size, fmts) for i in range(n)]
    pdf = pd.DataFrame(rows)

    pairs: list[tuple[str, str, str]] = []

    def all_pairs(ids: list[str], kind: str):
        ids = sorted(ids)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                pairs.append((ids[x], ids[y], kind))

    for unit, grp in pdf[pdf._class == "exact"].groupby("_unit"):
        all_pairs(list(grp.image_id), "exact")
    all_pairs(list(pdf[pdf._class == "empty"].image_id), "exact")
    for unit, grp in pdf[pdf._class == "image_near"].groupby("_unit"):
        all_pairs(list(grp.image_id), "image_near")
    for unit, grp in pdf[pdf._class == "caption_near"].groupby("_unit"):
        caps = list(grp.caption)
        if len(caps) == 2 and jaccard(shingles(caps[0]), shingles(caps[1])) >= 0.65:
            all_pairs(list(grp.image_id), "caption_near")
    all_pairs(list(pdf[pdf._class == "hot"].image_id), "hot")

    golden = pd.DataFrame(pairs, columns=["image_id_a", "image_id_b", "kind"])
    return pdf, golden


def spark_images_df(
    spark,
    n: int,
    seed: int = SEED,
    partitions: int | None = None,
    img_size: tuple[int, int] = (32, 24),
    fmts: tuple[str, ...] = ("png", "bmp", "jpg"),
):
    """Distributed corpus generation for bench scale: each partition
    generates its own id range via mapInPandas (no driver materialization).
    This is also the pattern a 10^12-row synthetic load would use."""
    from pyspark.sql import types as T

    plan = CorpusPlan.make(n)
    schema = T.StructType([
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
    ])

    def gen_batches(iterator):
        for pdf in iterator:
            recs = [
                {k: v for k, v in
                 gen_row(int(i), plan, seed, img_size, fmts).items()
                 if not k.startswith("_")}
                for i in pdf["id"]
            ]
            out = pd.DataFrame(recs, columns=IMAGE_COLS)
            out["w"] = out["w"].astype("int32")
            out["h"] = out["h"].astype("int32")
            out["phash"] = out["phash"].astype("int64")
            yield out

    num_parts = partitions or spark.sparkContext.defaultParallelism
    return spark.range(0, n, numPartitions=num_parts).mapInPandas(
        gen_batches, schema=schema
    )


def gen_video_row(
    i: int,
    seed: int,
    frame_size: tuple[int, int] = (24, 12),  # _make_pixels needs 8|w, 6|h
) -> dict:
    """Deterministic planted-class video row. Videos come in units of
    two (unit = i//2, member = i%2); unit % 10 picks the class:
    0 -> byte-identical pair, 1 -> re-muxed pair (same frames, different
    fps), 2 -> near pair (±1 noised + 2 frames trimmed), else two
    independent unique videos. 3/10 of units are therefore dup pairs."""
    from . import codecs

    unit, member = i // 2, i % 2
    cls = unit % 10
    w, h = frame_size
    # namespace the rng key: paired classes share per-UNIT frames, unique
    # videos get per-INDEX frames — the ("u"/"s") tag keeps the two
    # integer key spaces from colliding (unit u == index i would
    # otherwise make a "unique" video byte-identical to a planted pair)
    key = ("u", unit) if cls in (0, 1, 2) else ("s", i)
    frames = [
        _make_pixels(_rng(seed, "vidframe", *key, k), w, h)
        for k in range(VIDEO_FRAMES)
    ]
    fps = 10
    if member == 1 and cls == 1:
        fps = 25
    elif member == 1 and cls == 2:
        frames = [
            np.clip(
                f.astype(np.int16)
                + _rng(seed, "vidnoise", *key, k).integers(
                    -1, 2, size=f.shape, dtype=np.int16
                ),
                0, 255,
            ).astype(np.uint8)
            for k, f in enumerate(frames)
        ][2:]
    data = codecs.encode_avi_rgb(frames, fps=fps)
    cls_name = {0: "exact", 1: "remux", 2: "near"}.get(cls, "unique")
    return dict(video_id=f"v{i:09d}", bytes=data, _class=cls_name, _unit=unit)


def spark_videos_df(spark, n: int, seed: int = SEED, partitions: int | None = None):
    """Distributed deterministic video corpus (same pattern as
    spark_images_df): each partition generates its own id range via
    mapInPandas — no driver materialization."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("video_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
    ])

    def gen_batches(iterator):
        for pdf in iterator:
            recs = [gen_video_row(int(i), seed) for i in pdf["id"]]
            yield pd.DataFrame(
                [(r["video_id"], r["bytes"]) for r in recs],
                columns=["video_id", "bytes"],
            )

    num_parts = partitions or spark.sparkContext.defaultParallelism
    return spark.range(0, n, numPartitions=num_parts).mapInPandas(
        gen_batches, schema=schema
    )


def gen_region_image_row(
    i: int,
    size: tuple[int, int] = (64, 48),  # _make_pixels wants 8|w, 6|h
) -> dict:
    """Deterministic planted-class row for region-level image dedup
    (operators/image_region_dedup.py). Images come in units of two
    (unit = i//2, member = i%2); unit % 10 picks the class:
    0 -> byte-identical pair, 1 -> dihedral pair (member 1 is a
    rotated/flipped copy, stored in a DIFFERENT container), 2 ->
    watermark pair (member 1 has its top-left quadrant inverted — a
    heavy local edit, tile-aligned at phash.TILE_GRID), 3 -> banner pair
    (member 1's bottom quarter replaced with a per-unit noise strip, a
    caption-banner edit), else two independent unique images. 4/10 of
    units are therefore dup pairs."""
    from . import codecs

    unit, member = i // 2, i % 2
    cls = unit % 10
    w, h = size
    key = ("u", unit) if cls in (0, 1, 2, 3) else ("s", i)
    pixels = _make_pixels(_rng(SEED, "regimg", *key), w, h)
    fmt = "png"
    if member == 1:
        if cls == 1:
            # cycle through the 7 non-identity dihedral elements per unit:
            # (flip?, rot90 quarter-turns)
            flip, k = [
                (False, 1), (False, 2), (False, 3),
                (True, 0), (True, 1), (True, 2), (True, 3),
            ][unit % 7]
            if flip:
                pixels = pixels[:, ::-1]
            pixels = np.rot90(pixels, k)
            fmt = "bmp"
        elif cls == 2:
            pixels = pixels.copy()
            pixels[: h // 2, : w // 2] = 255 - pixels[: h // 2, : w // 2]
        elif cls == 3:
            # per-unit noise strip: a CONSTANT banner would phash to the
            # same value for every unit (all-zero DCT coefficients) and
            # hot-bucket the band join across unrelated units
            pixels = pixels.copy()
            strip = _rng(SEED, "banner", unit).integers(
                0, 256, size=(h - h * 3 // 4, w, 3), dtype=np.int64
            ).astype(np.uint8)
            pixels[h * 3 // 4 :, :] = strip
    data = codecs.encode(np.ascontiguousarray(pixels), fmt)
    cls_name = {0: "exact", 1: "dihedral", 2: "watermark", 3: "banner"}.get(
        cls, "unique"
    )
    return dict(image_id=f"r{i:09d}", bytes=data, _class=cls_name, _unit=unit)


def spark_region_images_df(spark, n: int, partitions: int | None = None):
    """Distributed deterministic region-dedup image corpus (same pattern
    as spark_videos_df: each partition generates its own id range)."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
    ])

    def gen_batches(iterator):
        for pdf in iterator:
            recs = [gen_region_image_row(int(i)) for i in pdf["id"]]
            yield pd.DataFrame(
                [(r["image_id"], r["bytes"]) for r in recs],
                columns=["image_id", "bytes"],
            )

    num_parts = partitions or spark.sparkContext.defaultParallelism
    return spark.range(0, n, numPartitions=num_parts).mapInPandas(
        gen_batches, schema=schema
    )


def gen_audio_row(i: int) -> dict:
    """Deterministic planted-class audio row (broadband colored noise +
    slow envelope — see tests/test_audio_dedup for why broadband).
    Units of two; unit % 10 picks the class: 0 -> byte-identical pair,
    1 -> re-encoded pair (16-bit vs 32-bit PCM of the same waveform),
    2 -> near pair (two 2048-sample segments trimmed + light noise),
    else two independent unique clips."""
    from . import codecs

    unit, member = i // 2, i % 2
    cls = unit % 10
    key = ("u", unit) if cls in (0, 1, 2) else ("s", i)
    n = AUDIO_CLIP_LEN
    rng = _rng(SEED, "audclip", *key)
    x = rng.standard_normal(n + 64)
    kern = rng.standard_normal(48) * np.hanning(48)
    x = np.convolve(x, kern, mode="same")[:n]
    t = np.arange(n) / codecs.WAV_SR
    env = 0.6 + 0.4 * np.sin(2 * np.pi * rng.uniform(0.5, 2.0) * t)
    x = x * env
    x = x / (np.abs(x).max() + 1e-9) * 0.8
    sampwidth = 2
    if member == 1 and cls == 1:
        sampwidth = 4
    elif member == 1 and cls == 2:
        nrng = _rng(SEED, "audnoise", *key)
        x = x[2 * 2048:] + nrng.normal(0, 0.002, n - 2 * 2048)
    data = codecs.encode_wav(x, sampwidth)
    cls_name = {0: "exact", 1: "reenc", 2: "near"}.get(cls, "unique")
    return dict(audio_id=f"a{i:09d}", bytes=data, _class=cls_name, _unit=unit)


def spark_audio_df(spark, n: int, partitions: int | None = None):
    """Distributed deterministic audio corpus (same pattern as
    spark_videos_df)."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("audio_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
    ])

    def gen_batches(iterator):
        for pdf in iterator:
            recs = [gen_audio_row(int(i)) for i in pdf["id"]]
            yield pd.DataFrame(
                [(r["audio_id"], r["bytes"]) for r in recs],
                columns=["audio_id", "bytes"],
            )

    num_parts = partitions or spark.sparkContext.defaultParallelism
    return spark.range(0, n, numPartitions=num_parts).mapInPandas(
        gen_batches, schema=schema
    )
