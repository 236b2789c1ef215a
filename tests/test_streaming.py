"""Structured Streaming incremental inspection (SURVEY.md §2.11).

The reference is batch-only; its re-inspection loop is the incremental
story these streams reproduce: new files -> feature extraction -> state
rows per (image, inspection), exactly-once via stream checkpoints.
"""

from __future__ import annotations

import os

import pytest

from ordinarydumpdeduplicator_spark.operators.features import extract_features
from ordinarydumpdeduplicator_spark.operators.states import derive_status, latest_runs
from ordinarydumpdeduplicator_spark.streaming.inspection import (
    ingest_metrics,
    stream_features,
    stream_inspections,
)
from tests.conftest import to_spark_images


def _write_batch(spark, pdf, path: str, name: str) -> None:
    to_spark_images(spark, pdf).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, name)
    )


@pytest.fixture()
def stream_dirs(tmp_path):
    d = {k: str(tmp_path / k) for k in ("in", "out", "ckpt", "states", "runs")}
    os.makedirs(d["in"], exist_ok=True)
    return d


def test_stream_features_matches_batch(spark, tiny_corpus, stream_dirs):
    pdf, _ = tiny_corpus
    _write_batch(spark, pdf.iloc[:120], stream_dirs["in"], "batch0")

    q = stream_features(
        spark, stream_dirs["in"] + "/*", stream_dirs["out"], stream_dirs["ckpt"]
    )
    q.awaitTermination(120)

    got = spark.read.parquet(stream_dirs["out"])
    expected = extract_features(to_spark_images(spark, pdf.iloc[:120]))
    assert got.count() == 120
    g = {r["image_id"]: (r["size"], r["sha"]) for r in got.collect()}
    e = {r["image_id"]: (r["size"], r["sha"]) for r in expected.collect()}
    assert g == e

    # second landing: only NEW files processed (exactly-once per file)
    _write_batch(spark, pdf.iloc[120:160], stream_dirs["in"], "batch1")
    q2 = stream_features(
        spark, stream_dirs["in"] + "/*", stream_dirs["out"], stream_dirs["ckpt"]
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(stream_dirs["out"]).count() == 160


def test_stream_inspections_cdc(spark, tiny_corpus, stream_dirs):
    pdf, _ = tiny_corpus
    _write_batch(spark, pdf.iloc[:50], stream_dirs["in"], "batch0")
    q = stream_inspections(
        spark,
        stream_dirs["in"] + "/*",
        stream_dirs["states"],
        stream_dirs["runs"],
        stream_dirs["ckpt"],
    )
    q.awaitTermination(120)

    # same 50 images land again as a new file -> second inspection
    _write_batch(spark, pdf.iloc[:50], stream_dirs["in"], "batch1")
    q2 = stream_inspections(
        spark,
        stream_dirs["in"] + "/*",
        stream_dirs["states"],
        stream_dirs["runs"],
        stream_dirs["ckpt"],
    )
    q2.awaitTermination(120)

    states = spark.read.parquet(stream_dirs["states"])
    runs = spark.read.parquet(stream_dirs["runs"])
    assert runs.count() == 2
    assert states.count() == 100
    assert latest_runs(runs).count() == 1  # one source ("stream")

    derived = derive_status(states, runs)
    by_status = {
        (r["run_id"], r["derived_status"]): r["n"]
        for r in derived.groupBy("run_id", "derived_status").count()
        .withColumnRenamed("count", "n").collect()
    }
    run_ids = sorted({r["run_id"] for r in runs.collect()})
    # all 50 rows carry content identity (undecodable payloads hash too);
    # first sighting -> new; identical re-ingest -> unchanged
    assert by_status.get((run_ids[0], "new"), 0) == 50
    assert by_status.get((run_ids[1], "unchanged"), 0) == 50


def test_stream_ingest_metrics_emits_rows(spark, tiny_corpus, stream_dirs):
    """The foreachBatch wiring must emit metrics under a single
    availableNow micro-batch (a watermarked append-mode aggregation over a
    processing-time stamp would emit zero rows here)."""
    from ordinarydumpdeduplicator_spark.streaming.inspection import (
        stream_ingest_metrics,
    )

    pdf, _ = tiny_corpus
    _write_batch(spark, pdf.iloc[:80], stream_dirs["in"], "batch0")
    q = stream_ingest_metrics(
        spark, stream_dirs["in"] + "/*", stream_dirs["out"], stream_dirs["ckpt"]
    )
    q.awaitTermination(120)

    got = spark.read.parquet(stream_dirs["out"])
    rows = got.collect()
    assert sum(r["n_images"] for r in rows) == 80
    fmts = {r["fmt"] for r in rows}
    assert fmts == {r for r in pdf.iloc[:80]["fmt"].unique()}

    # second landing appends more metrics exactly once per file
    _write_batch(spark, pdf.iloc[80:100], stream_dirs["in"], "batch1")
    q2 = stream_ingest_metrics(
        spark, stream_dirs["in"] + "/*", stream_dirs["out"], stream_dirs["ckpt"]
    )
    q2.awaitTermination(120)
    assert (
        spark.read.parquet(stream_dirs["out"])
        .agg({"n_images": "sum"})
        .collect()[0][0]
        == 100
    )


def test_ingest_metrics_windows(spark, tiny_corpus):
    import pandas as pd
    from pyspark.sql import functions as F

    pdf, _ = tiny_corpus
    images = to_spark_images(spark, pdf.iloc[:100]).withColumn(
        "ingest_ts",
        F.to_timestamp(F.lit("2026-01-01 00:00:30"))
        + F.make_interval(secs=F.crc32(F.col("image_id")) % 180),
    )
    out = ingest_metrics(images, window="1 minute", watermark="2 minutes")
    rows = out.collect()
    assert sum(r["n_images"] for r in rows) == 100
    # windows are aligned minute buckets
    for r in rows:
        assert r["window_start"].second == 0
        assert (r["window_end"] - r["window_start"]).seconds == 60


def test_stream_inspections_runs_epoch_reads_back_typed(
    spark, tiny_corpus, stream_dirs
):
    """The pyarrow-written runs epoch reads back with the schema and values
    a Spark-written epoch had: UTC-adjusted ``timestamp`` columns."""
    from ordinarydumpdeduplicator_spark.streaming.state_store import epoch_path

    pdf, _ = tiny_corpus
    _write_batch(spark, pdf.iloc[:10], stream_dirs["in"], "batch0")
    stream_inspections(
        spark,
        stream_dirs["in"] + "/*",
        stream_dirs["states"],
        stream_dirs["runs"],
        stream_dirs["ckpt"],
    ).awaitTermination(120)

    runs = spark.read.parquet(epoch_path(stream_dirs["runs"], 0))
    assert runs.schema.simpleString() == (
        "struct<run_id:string,source_id:string,"
        "start_ts:timestamp,finish_ts:timestamp>"
    )
    spark_written = spark.sql(
        "SELECT 'inspection_000000000' AS run_id, 'stream' AS source_id, "
        "timestamp_seconds(1600000000) AS start_ts, "
        "timestamp_seconds(1600000000) AS finish_ts"
    )
    assert runs.collect() == spark_written.collect()
