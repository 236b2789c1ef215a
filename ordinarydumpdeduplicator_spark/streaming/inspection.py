"""Incremental inspections as Structured Streaming (SURVEY.md §2.11).

The reference is batch-only, but its re-inspection loop IS an incremental
processing story: every scan creates a new ``Inspection`` snapshot and
``FileStatus`` New/Unchanged/Modified/Removed plus the ``previousState``
chain (Common/FileState.cs:67-70, Common/FileStatus.cs:5-14) are
change-data-capture states. Here that maps onto file-source streams with
``Trigger.AvailableNow`` semantics:

- ``stream_features``   — incremental feature extraction: new parquet files
  landing under the input path flow through the SAME vectorized
  ``extract_features`` stage (operators/features.py) and append to a
  features table. Exactly-once per file via the stream checkpoint.
- ``stream_inspections`` — ``foreachBatch``: each micro-batch is one
  inspection; a state row per image is appended with ``run_id =
  inspection_<epoch>``, so the batch-side CDC derivations
  (operators/states.derive_status) work unchanged on the result.
- ``stream_ingest_metrics`` — watermarked event-time windowed counts per
  format (late rows beyond the watermark are dropped): the ingest
  monitoring a 10^12-row pipeline needs.

At cluster scale the file source is replaced by Kafka / Iceberg
incremental reads; everything downstream is identical because all
transformations here are schema-stable DataFrame ops.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.features import extract_features
from ..schemas import IMAGES_SCHEMA
from .state_store import (
    epoch_path,
    read_parquet_stream,
    start_batches,
    write_row_epoch,
)


def stream_features(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_dir: str,
):
    """Streaming feature extraction: input stream -> extract_features ->
    append parquet (an availableNow run). Returns the started
    StreamingQuery."""
    feats = extract_features(read_parquet_stream(spark, input_path, IMAGES_SCHEMA))
    return (
        feats.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_inspections(
    spark: SparkSession,
    input_path: str,
    states_path: str,
    runs_path: str,
    checkpoint_dir: str,
):
    """foreachBatch incremental inspection: micro-batch -> one inspection.

    Writes (image_id, run_id, size, sha, status, location, sort) state rows
    and one runs row per batch; run ids embed the batch id so run order is
    the batch order. The tables feed operators/states.py
    (latest_runs / derive_status / detect_moved) unchanged. A state row's
    location is ``ingest/<image_id>``: the stream source is the fixed
    IMAGES_SCHEMA, which carries no path column.

    Replay safety: each table write is an overwrite of the stream epoch's
    own ``epoch=<batch_id>`` subdirectory (same protocol as
    streaming/near_dup.py) — a plain parquet append inside foreachBatch is
    only at-least-once, and a replayed batch would duplicate its state and
    runs rows. Readers of the root path see the extra ``epoch`` partition
    column, which the states operators ignore. The one-row runs epoch is
    written with pyarrow (state_store.write_row_epoch), not as a Spark
    job.
    """
    from ..plans.incremental import run_states

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        run_id = f"inspection_{batch_id:09d}"
        states = run_states(
            extract_features(batch_df),
            run_id,
            location_col=F.concat(F.lit("ingest/"), F.col("image_id")),
        )
        states.write.mode("overwrite").parquet(epoch_path(states_path, batch_id))
        # deterministic, monotone in batch order (no wall clock: replays
        # of the same batch id produce the identical runs row); tz-aware,
        # so parquet stores it UTC-adjusted and Spark reads `timestamp`
        ts = datetime.fromtimestamp(1_600_000_000 + batch_id, timezone.utc)
        write_row_epoch(
            epoch_path(runs_path, batch_id),
            {"run_id": run_id, "source_id": "stream", "start_ts": ts,
             "finish_ts": ts},
        )

    return start_batches(
        read_parquet_stream(spark, input_path, IMAGES_SCHEMA),
        handle_batch,
        checkpoint_dir,
    )


def ingest_metrics(images: DataFrame, window: str = "1 minute", watermark: str = "2 minutes") -> DataFrame:
    """Watermarked event-time windowed ingest counts by format.

    Works on both batch and streaming frames (same code path); on a stream,
    rows later than ``watermark`` past the max seen ``ingest_ts`` are
    dropped and completed windows are emitted once (append mode).
    """
    return (
        images.withWatermark("ingest_ts", watermark)
        .groupBy(F.window("ingest_ts", window).alias("win"), "fmt")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.sum(F.length("bytes")).alias("n_bytes"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "fmt",
            "n_images",
            "n_bytes",
        )
    )


def stream_ingest_metrics(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_dir: str,
):
    """Streaming ingest-rate table for PROCESSING-time sources.

    File-source streams carry no event time, and a watermarked append-mode
    aggregation over a processing-time stamp emits nothing under a single
    ``availableNow`` micro-batch (the watermark never advances past any
    window end). So metrics are computed per micro-batch via
    ``foreachBatch``: each batch runs the same ``ingest_metrics``
    aggregation in BATCH mode (watermark is a no-op there) over a
    deterministic per-batch timestamp, written into the epoch's own
    subdirectory (overwrite — idempotent under batch replay, see
    stream_inspections). Sources with a real event-time column
    (Kafka / Iceberg ingest_ts) should instead feed ``ingest_metrics``
    directly as a watermarked streaming aggregation."""

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        stamped = batch_df.withColumn(
            # deterministic batch stamp (one window per batch)
            "ingest_ts",
            F.timestamp_seconds(F.lit(1_600_000_000) + F.lit(batch_id) * 60),
        )
        ingest_metrics(stamped).withColumn(
            "batch_id", F.lit(batch_id)
        ).write.mode("overwrite").parquet(epoch_path(output_path, batch_id))

    return start_batches(
        read_parquet_stream(spark, input_path, IMAGES_SCHEMA),
        handle_batch,
        checkpoint_dir,
    )
