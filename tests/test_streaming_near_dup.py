"""Streaming near-dup clustering == batch caption pipeline on the same
corpus, across two availableNow restarts (exactly-once per file via the
stream checkpoint, state tables carried between batches), and a query
killed at any write boundary restarts to the state of an uninterrupted
run."""

from __future__ import annotations

import os

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql.readwriter import DataFrameWriter

from ordinarydumpdeduplicator_spark.operators.connected_components import (
    connected_components,
)
from ordinarydumpdeduplicator_spark.operators.features import extract_features
from ordinarydumpdeduplicator_spark.operators.lsh import caption_candidates
from ordinarydumpdeduplicator_spark.operators.verify import verify_caption_pairs
from ordinarydumpdeduplicator_spark.streaming import near_dup, state_store
from ordinarydumpdeduplicator_spark.streaming.near_dup import (
    load_assignments,
    stream_near_dup_clusters,
)
from tests.conftest import to_spark_images


def _assign_dict(df):
    return {r["image_id"]: r["cluster_id"] for r in df.collect()}


def test_stream_near_dup_matches_batch(spark, tiny_corpus, tmp_path):
    pdf, _ = tiny_corpus
    inp = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    os.makedirs(inp, exist_ok=True)

    def run_once():
        q = stream_near_dup_clusters(spark, inp, state, ck)
        q.awaitTermination()

    to_spark_images(spark, pdf.iloc[:120]).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    run_once()
    to_spark_images(spark, pdf.iloc[120:]).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    run_once()

    got = load_assignments(spark, state)

    full_images = to_spark_images(spark, pdf)
    feats = extract_features(full_images).cache()
    pairs, star = caption_candidates(feats)
    near = verify_caption_pairs(pairs, full_images)
    ref = connected_components(
        star.select("src", "dst").unionByName(near.select("src", "dst"))
    )
    assert _assign_dict(got) == _assign_dict(ref)

    # third start with no new files: nothing to process, state unchanged
    before = _assign_dict(got)
    run_once()
    after = _assign_dict(load_assignments(spark, state))
    assert after == before


def test_replayed_epoch_overwrites_partial_state(spark, tiny_corpus, tmp_path):
    """Crash protocol: a batch that died mid-write leaves partial epoch
    dirs; Structured Streaming replays the SAME batch id, and every state
    write is an overwrite of that epoch's own directory — so the partial
    state is healed, never appended to."""
    import shutil

    pdf, _ = tiny_corpus
    inp = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    os.makedirs(inp, exist_ok=True)

    to_spark_images(spark, pdf.iloc[:120]).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    stream_near_dup_clusters(spark, inp, state, ck).awaitTermination()

    # simulate batch 1 crashing after its reps write "completed" with
    # garbage (worst case: committed-looking partial state for the epoch
    # the stream will replay)
    poisoned = os.path.join(state, "reps", "epoch=1")
    spark.createDataFrame(
        [("deadbeef", "bogus_rep")], "caption_sha string, rep string"
    ).write.mode("overwrite").parquet(poisoned)
    assert os.path.exists(os.path.join(poisoned, "_SUCCESS"))

    to_spark_images(spark, pdf.iloc[120:]).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    stream_near_dup_clusters(spark, inp, state, ck).awaitTermination()

    # the replayed epoch rewrote its reps dir: the poison row is gone
    reps = spark.read.parquet(os.path.join(state, "reps"))
    assert reps.filter("caption_sha = 'deadbeef'").count() == 0

    # and the final assignment equals the batch-pipeline reference
    full_images = to_spark_images(spark, pdf)
    feats = extract_features(full_images).cache()
    pairs, star = caption_candidates(feats)
    near = verify_caption_pairs(pairs, full_images)
    ref = connected_components(
        star.select("src", "dst").unionByName(near.select("src", "dst"))
    )
    assert _assign_dict(load_assignments(spark, state)) == _assign_dict(ref)


def test_replay_after_prune_keeps_prior_assignments(spark, tiny_corpus, tmp_path):
    """Crash in the gap between a batch's state writes and the stream
    checkpoint commit: the replayed batch must still find the PREVIOUS
    assignment snapshot (pruning retains the latest prior epoch), or the
    replay would re-run as a first batch and silently drop every earlier
    cluster assignment."""
    import shutil

    pdf, _ = tiny_corpus
    inp = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    os.makedirs(inp, exist_ok=True)

    to_spark_images(spark, pdf.iloc[:120]).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    stream_near_dup_clusters(spark, inp, state, ck).awaitTermination()
    to_spark_images(spark, pdf.iloc[120:]).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    stream_near_dup_clusters(spark, inp, state, ck).awaitTermination()

    # batch 1's state writes (incl. the prune) completed, but "the
    # checkpoint never committed": delete the commit marker (and its
    # local-FS checksum sidecar) so the next start re-executes batch 1
    # with the same offsets
    os.remove(os.path.join(ck, "commits", "1"))
    crc = os.path.join(ck, "commits", ".1.crc")
    if os.path.exists(crc):
        os.remove(crc)
    stream_near_dup_clusters(spark, inp, state, ck).awaitTermination()

    full_images = to_spark_images(spark, pdf)
    feats = extract_features(full_images).cache()
    pairs, star = caption_candidates(feats)
    near = verify_caption_pairs(pairs, full_images)
    ref = connected_components(
        star.select("src", "dst").unionByName(near.select("src", "dst"))
    )
    assert _assign_dict(load_assignments(spark, state)) == _assign_dict(ref)


def test_pruned_caption_resolver_prunes_and_matches(spark, tiny_corpus,
                                                    tmp_path):
    """The verify stage's caption fetch reads only the candidate
    endpoints' id shards (pushed IN literal on the clustering column)
    and returns exactly the requested ids' captions; an empty id set
    reads ZERO caption rows (pinned by corrupting the store)."""
    import glob

    from pyspark.sql import functions as F

    from ordinarydumpdeduplicator_spark.streaming.near_dup import (
        CAPTIONS_SCHEMA,
        pruned_caption_resolver,
    )

    pdf, _ = tiny_corpus
    inp = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    os.makedirs(inp, exist_ok=True)
    to_spark_images(spark, pdf.iloc[:120]).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    q = stream_near_dup_clusters(spark, inp, state, ck)
    q.awaitTermination()

    cap_dirs = [os.path.join(state, "captions", "epoch=0")]
    full = {
        r["image_id"]: r["caption"]
        for r in spark.read.schema(CAPTIONS_SCHEMA)
        .parquet(*cap_dirs)
        .collect()
    }
    want_ids = sorted(full)[:7]
    resolver = pruned_caption_resolver(spark, cap_dirs)
    ids = spark.createDataFrame(
        [(i,) for i in want_ids], "image_id string"
    )
    got = resolver(ids)
    assert {
        r["image_id"]: r["caption"] for r in got.collect()
    } == {i: full[i] for i in want_ids}
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "In(__shard" in plan or "EqualTo(__shard" in plan, plan
    assert "IsNull(__shard)" in plan, plan  # legacy escape hatch rides

    # zero-read on an empty candidate set: corrupt every caption part
    # file — the resolver must still return an empty frame untouched
    for p in glob.glob(
        os.path.join(state, "captions", "**", "part-*.parquet"),
        recursive=True,
    ):
        with open(p, "wb") as f:
            f.write(b"garbage")
    empty = resolver(ids.limit(0))
    assert empty.count() == 0


def test_pruned_state_matches_full_scan(spark, tiny_corpus, tmp_path):
    """prune_min_state_bytes=0 (bloom-probed, shard-pruned rep/band index
    reads) must yield assignments identical to the full-frame path on
    the same waves, across a restart."""
    pdf, _ = tiny_corpus
    results = {}
    for mode in (True, False):
        inp = str(tmp_path / f"in_{mode}")
        state = str(tmp_path / f"state_{mode}")
        ck = str(tmp_path / f"ck_{mode}")
        os.makedirs(inp, exist_ok=True)

        def run_once():
            q = stream_near_dup_clusters(
                spark, inp, state, ck, prune_min_state_bytes=0 if mode else 1 << 60
            )
            q.awaitTermination()

        to_spark_images(spark, pdf.iloc[:120]).coalesce(1).write.mode(
            "append"
        ).parquet(inp)
        run_once()
        to_spark_images(spark, pdf.iloc[120:200]).coalesce(1).write.mode(
            "append"
        ).parquet(inp)
        run_once()
        results[mode] = _assign_dict(load_assignments(spark, state))
    assert results[True] == results[False]


def test_pruned_state_novel_batch_reads_zero_index_rows(
    spark, tiny_corpus, tmp_path
):
    """With pruning engaged, a batch of entirely novel captions never
    touches the rep/band index stores: corrupt every part file of both
    and the batch must still complete with correct state."""
    import glob

    pdf, _ = tiny_corpus
    inp = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    os.makedirs(inp, exist_ok=True)

    def run_once():
        q = stream_near_dup_clusters(
            spark, inp, state, ck, prune_min_state_bytes=0
        )
        q.awaitTermination()

    to_spark_images(spark, pdf.iloc[:120]).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    run_once()

    for sub in ("reps", "bands"):
        parts = glob.glob(
            os.path.join(state, sub, "**", "part-*.parquet"),
            recursive=True,
        )
        assert parts
        for p in parts:
            with open(p, "wb") as f:
                f.write(b"garbage")

    # a disjoint fixture slice: fresh ids, fresh captions — every rep
    # sha and band key is a bloom miss, so neither store is read
    to_spark_images(spark, pdf.iloc[120:160]).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    run_once()  # completing at all proves zero index reads

    # and the state it produced matches an uncorrupted twin run
    inp2 = str(tmp_path / "in2")
    state2 = str(tmp_path / "state2")
    ck2 = str(tmp_path / "ck2")
    os.makedirs(inp2, exist_ok=True)
    for lo, hi in ((0, 120), (120, 160)):
        to_spark_images(spark, pdf.iloc[lo:hi]).coalesce(1).write.mode(
            "append"
        ).parquet(inp2)
        q = stream_near_dup_clusters(
            spark, inp2, state2, ck2, prune_min_state_bytes=0
        )
        q.awaitTermination()
    assert _assign_dict(load_assignments(spark, state)) == _assign_dict(
        load_assignments(spark, state2)
    )


def test_pruned_state_exact_copy_batch_matches_full_scan(
    spark, tiny_corpus, tmp_path
):
    """A batch made only of exact-caption copies of indexed images adds
    no new rep, yet its band keys hit the bloom: the single probe reads
    band shards a per-new-rep probe would skip, and the verdicts must
    still equal the full-scan path. Each wave decodes its source once
    (plus the captions write), never once per consumer."""
    pdf, _ = tiny_corpus
    first = pdf.iloc[:120]
    copies = pdf.iloc[:60].copy()
    copies["image_id"] = copies["image_id"] + "_copy"
    results = {}
    for mode in (True, False):
        inp = str(tmp_path / f"in_{mode}")
        state = str(tmp_path / f"state_{mode}")
        ck = str(tmp_path / f"ck_{mode}")
        os.makedirs(inp, exist_ok=True)
        for wave in (first, copies):
            to_spark_images(spark, wave).coalesce(1).write.mode(
                "append"
            ).parquet(inp)
            q = stream_near_dup_clusters(
                spark, inp, state, ck, prune_min_state_bytes=0 if mode else 1 << 60
            )
            q.awaitTermination()
            n_in = sum(p["numInputRows"] for p in q.recentProgress)
            assert len(wave) <= n_in <= 2 * len(wave), (mode, n_in)
        results[mode] = _assign_dict(load_assignments(spark, state))
    assert results[True] == results[False]
    # every copy joined its original's cluster (captionless rows are in
    # no cluster, copy and original alike)
    got = results[True]
    assert any(i in got for i in copies["image_id"])
    for i in copies["image_id"]:
        assert got.get(i) == got.get(i[: -len("_copy")])


def _crash_waves(pdf):
    """Three caption waves: fresh images, plus from the second wave on
    exact-caption copies (new ids) of the previous wave's images, so
    every wave reuses first-seen reps and probes index band rows."""
    waves = [pdf.iloc[:40]]
    for lo, hi in ((40, 70), (70, 100)):
        copies = pdf.iloc[lo - 30:lo - 20].copy()
        copies["image_id"] = copies["image_id"] + f"_c{lo}"
        waves.append(pd.concat([pdf.iloc[lo:hi], copies]))
    return waves


def _run_caption_wave(spark, pdf_wave, inp, state, ck):
    to_spark_images(spark, pdf_wave).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    stream_near_dup_clusters(
        spark, inp, state, ck, prune_min_state_bytes=0
    ).awaitTermination()


def _caption_stores(state):
    """Every epoch dir of the caption stream's stores, with its rows
    (sorted) when committed, else None."""
    out = {}
    for store in ("captions", "reps", "bands", "assign", "blooms"):
        base = os.path.join(state, store)
        for name in sorted(os.listdir(base)):
            path = os.path.join(base, name)
            committed = os.path.exists(os.path.join(path, "_SUCCESS"))
            out[store, name] = (
                sorted(pq.read_table(path).to_pylist(), key=repr)
                if committed else None
            )
    return out


@pytest.fixture(scope="module")
def uninterrupted_caption_stores(spark, tiny_corpus, tmp_path_factory):
    root = tmp_path_factory.mktemp("caption_uninterrupted")
    inp, state, ck = (str(root / d) for d in ("in", "state", "ck"))
    os.makedirs(inp)
    for wave in _crash_waves(tiny_corpus[0]):
        _run_caption_wave(spark, wave, inp, state, ck)
    return _caption_stores(state)


# (owner, attribute, crash before or after the call, the store whose
# path the call must carry): the wave's writes in the order they
# commit, where the index writes run beside the clustering
CAPTION_CRASH_POINTS = {
    "captions": (near_dup, "write_clustered", "before", "captions"),
    "reps": (state_store.KeyIndex, "write", "before", "reps"),
    "bands": (state_store.KeyIndex, "write", "before", "bands"),
    "refresh": (state_store.KeyIndex, "refresh", "before", None),
    "assign": (DataFrameWriter, "parquet", "before", "assign"),
    "rotate": (near_dup, "rotate", "after", "assign"),
}


@pytest.mark.parametrize("point", list(CAPTION_CRASH_POINTS))
def test_caption_crash_at_each_write_boundary_restarts_to_identical_state(
    spark, tiny_corpus, tmp_path, monkeypatch, uninterrupted_caption_stores,
    point,
):
    """The caption query dies at one write boundary of the second of
    three waves and is restarted on the same checkpoint: the replayed
    wave and the next one leave every epoch of the captions, reps,
    bands, assign and blooms stores row for row as an uninterrupted
    run does."""
    waves = _crash_waves(tiny_corpus[0])
    inp, state, ck = (str(tmp_path / d) for d in ("in", "state", "ck"))
    os.makedirs(inp)
    _run_caption_wave(spark, waves[0], inp, state, ck)

    owner, target, when, store = CAPTION_CRASH_POINTS[point]
    original = getattr(owner, target)
    crashed = []

    def crash_once(*args, **kwargs):
        mine = not crashed and (store is None or any(
            isinstance(a, str) and store in a.split(os.sep) for a in args
        ))
        if when == "after" or not mine:
            out = original(*args, **kwargs)
        if mine:
            crashed.append(point)
            raise RuntimeError(f"crash at {point}")
        return out

    monkeypatch.setattr(owner, target, crash_once)
    with pytest.raises(Exception, match=f"crash at {point}"):
        _run_caption_wave(spark, waves[1], inp, state, ck)
    stream_near_dup_clusters(
        spark, inp, state, ck, prune_min_state_bytes=0
    ).awaitTermination()
    assert crashed == [point]
    _run_caption_wave(spark, waves[2], inp, state, ck)

    assert _caption_stores(state) == uninterrupted_caption_stores
