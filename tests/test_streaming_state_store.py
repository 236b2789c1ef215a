"""Contracts every stateful stream gets from streaming/state_store.py:
bad parameters are rejected before a query starts, no persisted frame
(decoded batch, bloom snapshot, probe flags) outlives a query, the
checkpoint blocks of waves do not pile up, steps run side by side keep
the wave's job group, a wave's job count stays within its budget, the
bloom snapshot covers every key the key stores hold, and a snapshot in
the older bitmap layout is rebuilt, never probed."""

from __future__ import annotations

import gc
import os
import shutil
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ordinarydumpdeduplicator_spark.fixtures import codecs
from ordinarydumpdeduplicator_spark.fixtures.generator import (
    _make_pixels,
    _rng,
)
from ordinarydumpdeduplicator_spark.operators.bloom_dedup import (
    DEFAULT_K_HASHES,
)
from ordinarydumpdeduplicator_spark.operators.video_dedup import (
    VIDEO_FP_SCHEMA,
    video_fingerprints,
)
from ordinarydumpdeduplicator_spark.streaming import (
    ingest_dedup,
    media_ingest,
    near_dup,
)
from ordinarydumpdeduplicator_spark.streaming.ingest_dedup import (
    stream_ingest_dedup,
)
from ordinarydumpdeduplicator_spark.streaming.media_ingest import (
    load_media_verdicts,
    stream_media_novelty,
)
from ordinarydumpdeduplicator_spark.streaming.near_dup import (
    load_assignments,
    stream_near_dup_clusters,
)
from ordinarydumpdeduplicator_spark.streaming.state_store import (
    epoch_dirs,
    latest_epoch,
    run_together,
)
from tests.conftest import reference_words, to_spark_images

MEDIA_SCHEMA = "video_id string, bytes binary"
DOCS_SCHEMA = "doc_id long, text string"


def _avi(unit: str, fps: int = 10) -> bytes:
    frames = [_make_pixels(_rng(3, "sst", unit, i), 32, 24) for i in range(8)]
    return codecs.encode_avi_rgb(frames, fps=fps)


def _start(stream: str, spark, inp: str, state: str, ck: str, **kw):
    if stream == "caption":
        return stream_near_dup_clusters(spark, inp, state, ck, **kw)
    if stream == "media":
        return stream_media_novelty(
            spark, inp, state, ck,
            fingerprint_fn=video_fingerprints,
            input_schema=MEDIA_SCHEMA,
            fp_schema=VIDEO_FP_SCHEMA,
            **kw,
        )
    return stream_ingest_dedup(spark, inp, state, ck, **kw)


@pytest.mark.parametrize("bad", [{"n_shards": 48}, {"bits_per_shard": 12}],
                         ids=["n_shards", "bits_per_shard"])
@pytest.mark.parametrize("stream", ["caption", "media", "ingest"])
def test_bad_params_raise_before_query_starts(spark, tmp_path, stream,
                                              bad):
    """A shard count the JVM shard expression cannot serve, or a bloom
    geometry the bloom rejects, fails at call time — not inside the
    running query (or never, while pruning has not engaged)."""
    inp = str(tmp_path / "in")
    os.makedirs(inp, exist_ok=True)
    active = {q.id for q in spark.streams.active}
    with pytest.raises(ValueError, match=next(iter(bad))):
        _start(stream, spark, inp, str(tmp_path / "state"),
               str(tmp_path / "ck"), **bad)
    assert {q.id for q in spark.streams.active} == active


@pytest.mark.parametrize("stream", ["caption", "media", "ingest"])
def test_stream_leaves_no_cached_frames(spark, tiny_corpus, tmp_path,
                                        stream):
    """No persisted frame (decoded batch, bloom snapshot, probe flags)
    outlives the batch that made it, over three queries on one state
    dir with the bloom snapshot probed from the second on."""
    pdf, _ = tiny_corpus
    if stream == "caption":
        waves = [
            to_spark_images(spark, pdf.iloc[lo:hi])
            for lo, hi in ((0, 80), (80, 120), (120, 160))
        ]
        prune = {"prune_min_state_bytes": 0}
    elif stream == "media":
        waves = [
            spark.createDataFrame(rows, MEDIA_SCHEMA)
            for rows in (
                [("a", _avi("x")), ("c", _avi("y"))],
                [("b", _avi("x", fps=25)), ("d", _avi("z"))],
                [("e", _avi("y", fps=30)), ("f", _avi("w"))],
            )
        ]
        prune = {"prune_min_index_bytes": 0}
    else:
        waves = [
            spark.createDataFrame(
                [(w * 100 + i, f"text {i % 7 + 3 * w}") for i in range(20)],
                DOCS_SCHEMA,
            )
            for w in range(3)
        ]
        prune = {}
    inp = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    os.makedirs(inp, exist_ok=True)
    spark.catalog.clearCache()
    for wave in waves:
        wave.coalesce(1).write.mode("append").parquet(inp)
        _start(stream, spark, inp, state, ck, **prune).awaitTermination()
    assert os.path.isdir(os.path.join(state, "blooms"))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("stream", ["caption", "media", "ingest"])
def test_restart_with_other_bloom_geometry_fails_loudly(spark, tiny_corpus,
                                                        tmp_path, stream):
    """A snapshot built with one bloom geometry is never probed with
    another (keys would test bits the build never set, and duplicates
    would pass as new): the batch fails with a parameter mismatch."""
    pdf, _ = tiny_corpus
    if stream == "caption":
        waves = [to_spark_images(spark, pdf.iloc[lo:hi])
                 for lo, hi in ((0, 60), (60, 90))]
        prune = {"prune_min_state_bytes": 0}
    elif stream == "media":
        waves = [spark.createDataFrame(rows, MEDIA_SCHEMA)
                 for rows in ([("a", _avi("x"))], [("b", _avi("x", fps=25))])]
        prune = {"prune_min_index_bytes": 0}
    else:
        waves = [spark.createDataFrame([(w, "same text")], DOCS_SCHEMA)
                 for w in range(2)]
        prune = {}
    inp = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    os.makedirs(inp, exist_ok=True)
    waves[0].coalesce(1).write.mode("append").parquet(inp)
    _start(stream, spark, inp, state, ck, bits_per_shard=1 << 12,
           **prune).awaitTermination()
    waves[1].coalesce(1).write.mode("append").parquet(inp)
    q = _start(stream, spark, inp, state, ck, bits_per_shard=1 << 13,
               **prune)
    with pytest.raises(Exception, match="bloom parameter mismatch"):
        q.awaitTermination()


@pytest.mark.parametrize("stream", ["caption", "media"])
def test_auto_policy_engages_by_index_size(spark, tiny_corpus, tmp_path,
                                           stream):
    """The prune policy engages exactly when the index reaches the size
    threshold: with a zero threshold the second wave probes the bloom
    snapshot the first built; with a huge threshold no snapshot ever
    appears (bloom maintenance is deferred) — and the results agree in
    both modes."""
    pdf, _ = tiny_corpus
    if stream == "caption":
        waves = [to_spark_images(spark, pdf.iloc[lo:hi])
                 for lo, hi in ((0, 120), (120, 200))]
        threshold = "prune_min_state_bytes"
    else:
        waves = [
            spark.createDataFrame(rows, MEDIA_SCHEMA)
            for rows in (
                [("a", _avi("x"))],
                [("b", _avi("x", fps=25)), ("c", _avi("y"))],
            )
        ]
        threshold = "prune_min_index_bytes"
    results = {}
    for label, nbytes in (("on", 0), ("off", 1 << 60)):
        inp = str(tmp_path / f"in_{label}")
        state = str(tmp_path / f"state_{label}")
        ck = str(tmp_path / f"ck_{label}")
        os.makedirs(inp, exist_ok=True)
        for wave in waves:
            wave.coalesce(1).write.mode("append").parquet(inp)
            _start(stream, spark, inp, state, ck,
                   **{threshold: nbytes}).awaitTermination()
        if stream == "caption":
            results[label] = sorted(
                (r["image_id"], r["cluster_id"])
                for r in load_assignments(spark, state).collect()
            )
        else:
            results[label] = sorted(
                (r["video_id"], r["outcome"], r["match_ref_id"])
                for r in load_media_verdicts(spark, state).collect()
            )
        has_bloom = os.path.isdir(os.path.join(state, "blooms"))
        assert has_bloom == (nbytes == 0), (label, has_bloom)
    assert results["on"] == results["off"]
    if stream == "caption":
        assert len({c for _, c in results["on"]}) < len(results["on"])
    else:
        assert ("b", "ref_dup", "a") in results["on"]


def _wait_for_listeners(spark) -> None:
    """Job ids reach the status tracker through the listener bus: drain
    it before reading them."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def test_run_together_returns_results_in_call_order(spark):
    def slow():
        time.sleep(0.3)
        return "slow"

    assert run_together(spark, slow, lambda: "fast") == ["slow", "fast"]


def test_run_together_reraises_after_every_step_finished(spark):
    """The first error in call order is re-raised, and only once every
    step has returned: no step is left running behind the caller."""
    done = threading.Event()

    def fail_late():
        time.sleep(0.2)
        raise ValueError("first")

    def fail_now():
        raise KeyError("second")

    def slow():
        time.sleep(0.6)
        done.set()

    with pytest.raises(ValueError, match="first"):
        run_together(spark, fail_late, fail_now, slow)
    assert done.is_set()


def test_run_together_steps_keep_the_callers_job_group(spark):
    """A step runs on its own thread with the caller's local
    properties: it reads the caller's job group, and its Spark jobs are
    counted under that group."""
    sc = spark.sparkContext
    group = "run-together-group"
    sc.setJobGroup(group, "steps side by side")
    try:
        got = run_together(
            spark,
            lambda: sc.getLocalProperty("spark.jobGroup.id"),
            lambda: spark.range(10).count(),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    _wait_for_listeners(spark)
    assert got == [group, 10]
    assert sc.statusTracker().getJobIdsForGroup(group)


# Spark jobs of the second wave below, prune policy engaged (bloom
# probe, pruned index reads, snapshot refresh), the most measured over
# repeated runs on 4 cores (caption 36-37 over 8 runs, media 77-78:
# one job count varies from run to run; ingest 23 over 3 runs)
STREAM_WAVE_JOB_BUDGET = {"caption": 37, "media": 78, "ingest": 23}


@pytest.mark.parametrize("stream", ["caption", "media", "ingest"])
def test_stream_wave_job_budget(spark, tiny_corpus, tmp_path, stream):
    """Regression guard on the fixed per-job cost of a stream wave: a
    step that goes back to re-reading what it wrote, or a frame that
    re-plans a chain instead of reading its checkpoint, shows up here
    as extra jobs. Every job of a wave, including those of steps run
    side by side, carries the query run id as its job group: no job
    outside any group appears while a wave runs."""
    pdf, _ = tiny_corpus
    if stream == "caption":
        waves = [to_spark_images(spark, pdf.iloc[lo:hi])
                 for lo, hi in ((0, 120), (120, 200))]
        prune = {"prune_min_state_bytes": 0}
    elif stream == "media":
        waves = [
            spark.createDataFrame(rows, MEDIA_SCHEMA)
            for rows in (
                [("a", _avi("x")), ("c", _avi("y"))],
                [("b", _avi("x", fps=25)), ("d", _avi("z"))],
            )
        ]
        prune = {"prune_min_index_bytes": 0}
    else:
        # history duplicates, new keys, a within-batch duplicate and a
        # NULL text in the second wave
        waves = [
            spark.createDataFrame(
                [(w * 100 + i, f"text {i % 9 + 4 * w}") for i in range(30)]
                + [(w * 100 + 99, None)],
                DOCS_SCHEMA,
            )
            for w in range(2)
        ]
        prune = {}
    inp = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    os.makedirs(inp, exist_ok=True)
    tracker = spark.sparkContext.statusTracker()
    for wave in waves:
        wave.coalesce(1).write.mode("append").parquet(inp)
        _wait_for_listeners(spark)
        ungrouped = set(tracker.getJobIdsForGroup())
        q = _start(stream, spark, inp, state, ck, **prune)
        q.awaitTermination()
        _wait_for_listeners(spark)
        assert not set(tracker.getJobIdsForGroup()) - ungrouped
    n_jobs = len(tracker.getJobIdsForGroup(str(q.runId)))
    assert n_jobs <= STREAM_WAVE_JOB_BUDGET[stream], n_jobs


def _persistent_rdds(spark) -> int:
    """Registered persistent RDDs once unreachable frames are collected
    on both sides of the gateway (the JVM's context cleaner releases
    the blocks of collected RDDs). py4j sends the releases of collected
    Python frames from a finalizer thread that polls once a second, so
    the JVM collects only after that thread has had its turn: without
    the wait, frames freed in a wave's last second were counted or not
    at random."""
    gc.collect()
    time.sleep(1.5)
    spark._jvm.System.gc()
    time.sleep(1)
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def test_media_waves_leave_no_growing_blocks(spark, tmp_path):
    """The blocks a media wave registers (its checkpointed novelty
    result) are released once the wave is over: over five waves on one
    state dir, each matching the index, the count of persistent RDDs
    does not grow with the number of waves."""
    inp = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    os.makedirs(inp, exist_ok=True)
    counts = []
    for i in range(5):
        spark.createDataFrame(
            [(f"a{i}", _avi(f"u{i}")), (f"b{i}", _avi(f"u{i - 1}", fps=25))],
            MEDIA_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(inp)
        _start("media", spark, inp, state, ck).awaitTermination()
        counts.append(_persistent_rdds(spark))
    assert max(counts[2:]) <= counts[1], counts
    v = {
        r["video_id"]: (r["outcome"], r["match_ref_id"])
        for r in load_media_verdicts(spark, state).collect()
    }
    assert all(v[f"b{i}"] == ("ref_dup", f"a{i - 1}") for i in range(1, 5))


def test_caption_waves_leave_no_growing_blocks(spark, tiny_corpus, tmp_path):
    """The caption twin of the media test above: the blocks a caption
    wave registers (the localCheckpoint blocks of its incremental run)
    do not pile up over waves. Every wave after the first re-sends the
    first wave's images under new ids, so each one matches the index
    the same way; over five waves on one state dir, with the bloom
    probed from the second, the count of persistent RDDs does not grow
    with the number of waves. The baseline is the third wave (once
    ``_persistent_rdds`` waits for py4j's releases, every wave leaves
    one registered RDD on 4 cores)."""
    pdf, _ = tiny_corpus
    first = pdf.iloc[:40]
    inp = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    os.makedirs(inp, exist_ok=True)
    counts = []
    for i in range(5):
        wave = first.copy()
        if i:
            wave["image_id"] = [f"w{i}_{x}" for x in first["image_id"]]
        to_spark_images(spark, wave).coalesce(1).write.mode("append").parquet(
            inp
        )
        _start("caption", spark, inp, state, ck,
               prune_min_state_bytes=0).awaitTermination()
        counts.append(_persistent_rdds(spark))
    assert max(counts[3:]) <= counts[2], counts
    # each clustered image's re-sent copy joined its cluster
    cluster_of = {
        r["image_id"]: r["cluster_id"]
        for r in load_assignments(spark, state).collect()
    }
    clustered = [x for x in first["image_id"] if x in cluster_of]
    assert clustered
    for x in clustered:
        assert cluster_of[f"w4_{x}"] == cluster_of[x]


@pytest.mark.parametrize("stream", ["caption", "media", "ingest"])
def test_bloom_snapshot_covers_every_stored_key(spark, tiny_corpus, tmp_path,
                                                stream):
    """After several waves the latest bloom snapshot holds, shard by
    shard, exactly the bits that ``bloom_shards`` sets for the declared
    keys of every committed key-store epoch. The waves include a first
    engagement that follows waves run below the prune threshold
    (caption, media) or a lost snapshot (ingest), where the refresh
    must key the prior stores as well as the batch's deltas. A refresh
    that drops keys passes the crash tests, which compare two runs of
    the same code; this compares the bloom with the stores."""
    pdf, _ = tiny_corpus
    off, on = 1 << 60, 0
    if stream == "caption":
        module = near_dup
        waves = [to_spark_images(spark, pdf.iloc[lo:hi])
                 for lo, hi in ((0, 60), (60, 100), (100, 150), (150, 200))]
        prunes = [{"prune_min_state_bytes": t} for t in (off, off, on, on)]
    elif stream == "media":
        module = media_ingest
        waves = [
            spark.createDataFrame(rows, MEDIA_SCHEMA)
            for rows in (
                [("a", _avi("x")), ("c", _avi("y"))],
                [("b", _avi("x", fps=25)), ("d", _avi("z"))],
                [("e", _avi("y", fps=30)), ("f", _avi("w"))],
                [("g", _avi("v")), ("h", _avi("z", fps=25))],
            )
        ]
        prunes = [{"prune_min_index_bytes": t} for t in (off, off, on, on)]
    else:
        module = ingest_dedup
        waves = [
            spark.createDataFrame(
                [(w * 100 + i, f"cover {i % 11 + 5 * w}") for i in range(20)],
                DOCS_SCHEMA,
            )
            for w in range(4)
        ]
        prunes = [{}] * 4
    params = (32, 1 << 14, DEFAULT_K_HASHES)
    geometry = dict(n_shards=params[0], bits_per_shard=params[1])
    inp = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    os.makedirs(inp, exist_ok=True)
    blooms = os.path.join(state, "blooms")
    for i, (wave, prune) in enumerate(zip(waves, prunes)):
        if stream == "ingest" and i == 2:
            shutil.rmtree(blooms)
        wave.coalesce(1).write.mode("append").parquet(inp)
        _start(stream, spark, inp, state, ck, **geometry,
               **prune).awaitTermination()

    assert _snapshot_words(spark, state, module, params) == (True, True)


def _snapshot_words(spark, state, module, params) -> tuple[bool, bool]:
    """(the latest bloom snapshot is in word rows, its words equal the
    hashlib reference's over the declared keys of every committed epoch
    of the stream's key stores, in one row per (shard, word) — the
    probe joins the snapshot's rows without OR-ing them first)."""
    keys = [
        r.key
        for st in module.KEY_STORES
        for r in st.keys(spark.read.schema(st.schema).parquet(
            *epoch_dirs(os.path.join(state, st.name))
        )).collect()
    ]
    snapshot = spark.read.parquet(latest_epoch(os.path.join(state, "blooms")))
    if "word" not in snapshot.columns:
        return False, False
    rows = snapshot.collect()
    got = {(r.shard, r.word): r.bits for r in rows}
    return True, len(rows) == len(got) and got == reference_words(keys, params)


def _epoch_rows(state: str, skip: str) -> dict:
    """Rows (sorted) of every committed epoch of every store but
    ``skip``."""
    return {
        (store, name): sorted(pq.read_table(path).to_pylist(), key=repr)
        for store in sorted(os.listdir(state)) if store != skip
        for name in sorted(os.listdir(os.path.join(state, store)))
        for path in [os.path.join(state, store, name)]
        if os.path.exists(os.path.join(path, "_SUCCESS"))
    }


@pytest.mark.parametrize("stream", ["caption", "ingest"])
def test_parent_format_snapshot_is_rebuilt(spark, tiny_corpus, tmp_path,
                                           stream):
    """A bloom snapshot in the older layout (one bitmap per shard, no
    ``word`` column) counts as absent, never as an empty bloom: the
    next wave reads whole stores and rebuilds the snapshot from them,
    so every store ends as after a lost ``blooms/``, and the new
    snapshot is in word rows and covers every stored key. The
    fabricated bitmaps are all zero: probed as a bloom, they would pass
    every duplicate of the third wave as new."""
    pdf, _ = tiny_corpus
    if stream == "caption":
        module = near_dup
        waves = [to_spark_images(spark, pdf.iloc[lo:hi])
                 for lo, hi in ((0, 80), (80, 120), (120, 200))]
        prune = {"prune_min_state_bytes": 0}
    else:
        module = ingest_dedup
        waves = [
            spark.createDataFrame(
                [(w * 100 + i, f"old layout {i % 13 + 4 * w}")
                 for i in range(20)] + [(w * 100 + 99, None)],
                DOCS_SCHEMA,
            )
            for w in range(3)
        ]
        prune = {}
    params = (32, 1 << 14, DEFAULT_K_HASHES)
    geometry = dict(n_shards=params[0], bits_per_shard=params[1])
    old_layout = pa.table({
        "shard": pa.array(range(32), pa.int32()),
        "bits": [bytes(params[1] // 8)] * 32,
        **{c: pa.array([v] * 32, pa.int32()) for c, v in
           zip(("n_shards", "bits_per_shard", "k_hashes"), params)},
    })
    runs = {}
    for mode in ("old_layout", "lost"):
        inp, state, ck = (str(tmp_path / mode / d)
                          for d in ("in", "state", "ck"))
        os.makedirs(inp)
        blooms = os.path.join(state, "blooms")
        for i, wave in enumerate(waves):
            if i == 2:
                shutil.rmtree(blooms)
                if mode == "old_layout":
                    os.makedirs(os.path.join(blooms, "epoch=1"))
                    pq.write_table(old_layout, os.path.join(
                        blooms, "epoch=1", "part-00000.parquet"))
                    open(os.path.join(blooms, "epoch=1", "_SUCCESS"),
                         "w").close()
            wave.coalesce(1).write.mode("append").parquet(inp)
            _start(stream, spark, inp, state, ck, **geometry,
                   **prune).awaitTermination()
        assert latest_epoch(blooms) == os.path.join(blooms, "epoch=2")
        assert _snapshot_words(spark, state, module, params) == (True, True)
        runs[mode] = _epoch_rows(state, "blooms")
    assert runs["old_layout"] == runs["lost"]
