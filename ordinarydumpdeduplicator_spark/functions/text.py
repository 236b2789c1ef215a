"""Text normalization, tokenization, shingling — shared definitions.

The same tokenization must be used by the fixture generator (ground truth),
the pure-Python oracles, and the Spark-side expressions, or recall numbers
are meaningless. Keep it trivial and keep the two implementations in
lockstep:

    python:  text.lower().split()
    spark:   F.filter(F.split(F.lower(col), r'\\s+'), x -> x != '')

Shingles are word k-grams (k=3). Captions shorter than k tokens produce a
single shingle of all tokens; empty/whitespace captions produce NO shingles
and are excluded from the caption near-dup path (they still cluster via
exact bytes / phash). This mirrors how the reference gives empty *content*
a canonical identity (Common/BlobInfo.cs:44-51) while excluding broken
content from grouping (DataControllerSimple.cs:263-275).
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

SHINGLE_K = 3


# ---------------------------------------------------------------- python side


def tokens(text: str | None) -> list[str]:
    if not text:
        return []
    return text.lower().split()


def shingles(text: str | None) -> set[str]:
    """Word SHINGLE_K-gram shingles as space-joined strings."""
    toks = tokens(text)
    if not toks:
        return set()
    if len(toks) < SHINGLE_K:
        return {" ".join(toks)}
    return {
        " ".join(toks[i : i + SHINGLE_K])
        for i in range(len(toks) - SHINGLE_K + 1)
    }


def shingle_hash64(s: str) -> int:
    """Stable 64-bit shingle hash (process-independent, unlike hash()).

    Defined as DuckDB's ``md5_number_lower``: bytes 8..16 of the MD5
    digest, little-endian — so the DuckDB oracle can recompute the exact
    same shingle hashes in SQL (verified bit-for-bit by the
    minhash_candidates oracle). MD5 here is a mixing function, not a
    security boundary; it is also marginally faster than blake2b-8."""
    return int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[8:], "little")


def shingle_hashes(text: str | None) -> np.ndarray:
    return np.fromiter(
        (shingle_hash64(s) for s in shingles(text)), dtype=np.uint64
    )


def jaccard(a: set, b: set) -> float:
    if not a and not b:
        return 0.0
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


# ----------------------------------------------------------------- spark side


def tokens_col(col: str | Column) -> Column:
    """Spark expression equal to python ``tokens`` (JVM-side, codegen'd)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), r"\s+"), lambda x: x != "")


def token_count_col(col: str | Column) -> Column:
    return F.size(tokens_col(col))


_SIZE_UNITS = ["bytes", "KiB", "MiB", "GiB", "TiB", "PiB"]


def data_size_string(n_bytes: int) -> str:
    """Human size formatting — log-1024 bucketing to bytes..PiB, rounded
    (F7; reference Common/Helper.cs:7-45 GetDataSizeString).

    The unit check happens AFTER rounding, so a value just under a
    boundary (1023.99 KiB) renders as '1 MiB', never the invalid
    '1024.0 KiB'."""
    if n_bytes < 0:
        raise ValueError("negative size")
    size = float(n_bytes)
    for unit in _SIZE_UNITS:
        shown = int(size) if unit == "bytes" else round(size, 1)
        if unit == _SIZE_UNITS[-1] or shown < 1024:
            if unit == "bytes":
                return f"{shown} {unit}"
            return f"{shown:g} {unit}"
        size /= 1024.0


def data_size_col(col):
    """Column version for report output (presentation only). Kept aligned
    with ``data_size_string``: same post-rounding unit bump at the 1024
    boundary, same trailing-'.0' trimming ('1 KiB', not '1.0 KiB')."""
    from pyspark.sql import functions as F

    c = col.cast("double")
    log_idx = F.when(c <= 0, F.lit(0)).otherwise(
        F.least(F.floor(F.log(1024.0, c)).cast("int"), F.lit(5))
    )
    scaled0 = c / F.pow(F.lit(1024.0), log_idx.cast("double"))
    bump = (F.round(scaled0, 1) >= 1024) & (log_idx < 5)
    idx = log_idx + bump.cast("int")
    unit = F.element_at(F.array(*[F.lit(u) for u in _SIZE_UNITS]), idx + 1)
    scaled = c / F.pow(F.lit(1024.0), idx.cast("double"))
    return F.concat(
        F.when(idx == 0, F.floor(scaled).cast("long").cast("string")).otherwise(
            F.regexp_replace(F.round(scaled, 1).cast("string"), r"\.0$", "")
        ),
        F.lit(" "),
        unit,
    )


def relative_path(root: str, path: str) -> str | None:
    """F5: path relative to root, or None when path is outside root
    (reference FileSystemHelper.GetRelativePath + its '..' containment
    test, OrdinaryDumpDeduplicator/FileSystemHelper.cs:19-68 — replaced by
    a deterministic prefix check, no Uri round-trip)."""
    root_n = root.rstrip("/")
    if path == root_n:
        return ""
    if path.startswith(root_n + "/"):
        return path[len(root_n) + 1 :]
    return None


def timespan_string(seconds: float) -> str:
    """F8: HH:MM:SS.ff wall-clock formatting (reference
    OrdinaryDumpDeduplicatorDesktop.Logic.cs:275-284) for metrics output.

    Rounds to centiseconds FIRST and carries into minutes/hours, so
    59.999 renders '00:01:00.00', never the invalid '00:00:60.00'."""
    if seconds < 0:
        raise ValueError("negative timespan")
    total_cs = round(seconds * 100)
    h, rem = divmod(total_cs, 360000)
    m, cs = divmod(rem, 6000)
    return f"{h:02d}:{m:02d}:{cs // 100:02d}.{cs % 100:02d}"
