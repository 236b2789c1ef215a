"""Persist sinks: append-with-dedup, idempotent stage writes (S4-S6).

The reference persists entities through ``IDataController`` add-methods —
``AddBlobInfo`` dedups on add (DataControllerSimple.cs:238-244),
``AddFileState``/``AddDirectory`` append (DataControllerSimple.cs:43-75,
210-218). Dataflow equivalents:

- ``append_dedup``  — dropDuplicates on the identity key BEFORE append
  (the AddBlobInfo set-semantics), then append to the table.
- ``append_rows``   — plain append (AddFileState semantics; states are
  keyed (image_id, run_id) upstream so appends stay idempotent per run).
- ``write_stage``   — overwrite a stage table + _SUCCESS marker (the
  checkpointed-stage sink plans/pipeline.py uses).

Physical moves/deletes (S5/S6, FileSystemProvider.cs:42-76) have no
filesystem side effects here on purpose: operators/actions.py emits an
actions DataFrame and successor state rows; a production deployment turns
those into Iceberg MERGE / row-level DELETE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def append_dedup(df: DataFrame, path: str, keys: list[str]) -> None:
    """Dedup on identity keys then append — AddBlobInfo set semantics.

    Note: dedups within the batch only; cross-batch identity is the
    content key itself (duplicate (size, sha) rows across appends are
    harmless because every consumer groups by the key)."""
    df.dropDuplicates(keys).write.mode("append").parquet(path)


def append_rows(df: DataFrame, path: str) -> None:
    """Append-only fact write (AddFileState semantics)."""
    df.write.mode("append").parquet(path)


def write_stage(df: DataFrame, path: str) -> None:
    """Overwrite a checkpointed stage table (idempotent: rerun rewrites)."""
    df.write.mode("overwrite").parquet(path)


def read_stage(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def compact_stage(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Rewrite a stage/parquet directory into ~``target_bytes`` files and
    return the new file count — the small-files fix every long-running
    ingest needs (each streaming epoch / incremental run appends a few
    small files; a 10^12-row table read through millions of tiny files
    spends its wall on scan tasks and footer fetches, not data).

    Sizing comes from the directory's actual byte size (one driver-side
    listing of ONE directory — metadata, not data), so the rewrite is a
    single repartition-to-N shuffle-free coalesce when shrinking.
    The rewrite goes to a sibling ``<path>.compacting`` directory first
    and swaps in with two renames (old kept as ``<path>.pre_compact``
    until the swap completes, then removed). SINGLE-WRITER, NO CONCURRENT
    READERS: the two renames are not one atomic operation — ``path`` is
    briefly absent between them, and a crash in that window leaves only
    ``<path>.pre_compact`` (recover by renaming it back). Run it like any
    table-maintenance action: between jobs, never under a live reader.
    Production analogue: Iceberg's rewrite_data_files action (whose
    snapshot commit IS atomic — use that path when the catalog is real);
    the file-swap protocol mirrors plans/pipeline.py's _SUCCESS-gated
    stage writes.

    Partitioned (nested-directory) stages are refused rather than
    silently flattened: ``spark.read.parquet(path)`` on a
    ``key=value``-partitioned dir would drop the partition columns from
    the files and the flat rewrite would lose the layout, while the flat
    size glob would see 0 bytes and coalesce(1).

    Reference analogue: none (single-machine tool) — operational
    surface for the 100 TB mission (SURVEY §2.12).
    """
    import glob
    import os
    import shutil

    subdirs = [
        d
        for d in glob.glob(os.path.join(path, "*"))
        if os.path.isdir(d) and not os.path.basename(d).startswith((".", "_"))
    ]
    if subdirs:
        raise ValueError(
            f"compact_stage: {path} contains subdirectories "
            f"(partitioned layout?) — compact each leaf partition "
            f"directory instead: {sorted(os.path.basename(d) for d in subdirs)[:3]}"
        )
    files = [
        f
        for f in glob.glob(os.path.join(path, "*.parquet"))
        + glob.glob(os.path.join(path, "part-*"))
        if os.path.isfile(f)
    ]
    total = sum(os.path.getsize(f) for f in set(files))
    n_out = max(1, -(-total // target_bytes))
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + ".compacting"
    bak = path.rstrip("/") + ".pre_compact"
    # coalesce, not repartition: shrinking file count needs no shuffle
    df.coalesce(int(n_out)).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(bak, ignore_errors=True)
    os.rename(path, bak)
    os.rename(tmp, path)
    shutil.rmtree(bak)
    return int(n_out)
