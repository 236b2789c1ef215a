"""Streaming media-ingest novelty: per-batch verdicts vs the epoch-keyed
fingerprint index, within-batch collapse, byte-exact path for
undecodable payloads, crash-replay healing, and a crash at every write
boundary restarting to the state of an uninterrupted run."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql.readwriter import DataFrameWriter

from ordinarydumpdeduplicator_spark.fixtures import codecs
from ordinarydumpdeduplicator_spark.fixtures.generator import (
    _make_pixels,
    _rng,
)
from ordinarydumpdeduplicator_spark.operators.video_dedup import (
    VIDEO_FP_SCHEMA,
    video_fingerprints,
)
from ordinarydumpdeduplicator_spark.streaming import media_ingest, state_store
from ordinarydumpdeduplicator_spark.streaming.media_ingest import (
    load_media_metrics,
    load_media_verdicts,
    load_reference_fps,
    stream_media_novelty,
)

INPUT_SCHEMA = "video_id string, bytes binary"


def _frames(unit: str, n: int = 8):
    return [_make_pixels(_rng(3, "smn", unit, i), 32, 24) for i in range(n)]


def _avi(unit: str, fps: int = 10) -> bytes:
    return codecs.encode_avi_rgb(_frames(unit), fps=fps)


def _write_wave(spark, inp, rows):
    spark.createDataFrame(rows, INPUT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(inp)


def _run_once(spark, inp, state, ck):
    q = stream_media_novelty(
        spark,
        inp,
        state,
        ck,
        fingerprint_fn=video_fingerprints,
        input_schema=INPUT_SCHEMA,
        fp_schema=VIDEO_FP_SCHEMA,
        id_col="video_id",
        hashes_col="frame_hashes",
        prefix="frame",
    )
    q.awaitTermination()


def test_stream_media_novelty_verdicts(spark, tmp_path):
    inp = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    os.makedirs(inp, exist_ok=True)

    # valid RIFF/AVI magic, corrupt body -> status 'broken', sha only
    broken = b"RIFF" + b"\x00\x00\x00\x00" + b"AVI " + b"\x00" * 64
    wave1 = [
        ("a", _avi("x")),
        ("c", _avi("y")),
        ("n1", None),  # Broken sentinel: nothing to fingerprint
        ("u1", broken),  # undecodable but hashable
    ]
    _write_wave(spark, inp, wave1)
    _run_once(spark, inp, state, ck)

    v = {
        r["video_id"]: r
        for r in load_media_verdicts(spark, state).collect()
    }
    assert v["a"]["outcome"] == "novel"
    assert v["c"]["outcome"] == "novel"
    assert v["n1"]["outcome"] == "no_hashes"
    assert v["u1"]["outcome"] == "novel"  # first holder of its byte sha

    wave2 = [
        ("b", _avi("x", fps=25)),  # re-mux of a -> ref_dup
        ("d", _avi("z")),          # fresh content
        ("d2", _avi("z", fps=25)),  # within-batch re-mux of d
        # d's frames PLUS 8 frames of unseen content w: clusters with d
        # (half its segments match), so it's a batch_dup — but its w-half
        # hashes exist nowhere else. The member-indexing rule must keep
        # them (under canonical id "d") or wave3's "t" below is
        # misclassified novel.
        ("dx", codecs.encode_avi_rgb(_frames("z") + _frames("w"))),
        ("e", None),
        ("u2", broken),  # byte-identical to u1 -> ref_dup via sha path
    ]
    _write_wave(spark, inp, wave2)
    _run_once(spark, inp, state, ck)

    v = {
        r["video_id"]: r
        for r in load_media_verdicts(spark, state).collect()
    }
    assert v["b"]["outcome"] == "ref_dup" and v["b"]["match_ref_id"] == "a"
    assert v["u2"]["outcome"] == "ref_dup" and v["u2"]["match_ref_id"] == "u1"
    assert v["u2"]["match_frac"] == 1.0
    assert v["e"]["outcome"] == "no_hashes"
    # d/d2/dx collapse within the batch: min-id canonical is novel
    assert v["d"]["outcome"] == "novel"
    assert v["d2"]["outcome"] == "batch_dup"
    assert v["d2"]["batch_canonical_id"] == "d"
    assert v["dx"]["outcome"] == "batch_dup"
    assert v["dx"]["batch_canonical_id"] == "d"

    # the index covers novel CLUSTERS (all members' fingerprints,
    # re-keyed to the canonical id) — not just the canonicals
    idx = sorted(
        set(
            r["video_id"]
            for r in load_reference_fps(
                spark, state, VIDEO_FP_SCHEMA
            ).collect()
        )
    )
    assert idx == ["a", "c", "d", "u1"]

    # metrics: disjoint outcome buckets sum to batch size
    for m in load_media_metrics(spark, state).collect():
        assert (
            m["n_in"]
            == m["n_no_hashes"] + m["n_ref_dup"] + m["n_batch_dup"] + m["n_novel"]
        )

    # cumulative recall: "t" re-uploads ONLY the w-half of dx — content
    # that never appeared in a canonical. The family-indexed hashes must
    # classify it ref_dup of the canonical, not novel.
    _write_wave(spark, inp, [("t", _avi("w"))])
    _run_once(spark, inp, state, ck)
    v = {
        r["video_id"]: r
        for r in load_media_verdicts(spark, state).collect()
    }
    assert v["t"]["outcome"] == "ref_dup" and v["t"]["match_ref_id"] == "d"


def test_stream_media_replay_heals(spark, tmp_path):
    """Replay of a batch whose epoch parquet committed but whose stream
    checkpoint didn't must overwrite its own state, not duplicate it."""
    inp = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    os.makedirs(inp, exist_ok=True)

    _write_wave(spark, inp, [("a", _avi("x")), ("c", _avi("y"))])
    _run_once(spark, inp, state, ck)
    _write_wave(spark, inp, [("b", _avi("x", fps=25)), ("d", _avi("z"))])
    _run_once(spark, inp, state, ck)
    want_idx = sorted(
        r["video_id"]
        for r in load_reference_fps(spark, state, VIDEO_FP_SCHEMA).collect()
    )
    want_v = sorted(
        (r["video_id"], r["outcome"])
        for r in load_media_verdicts(spark, state).collect()
    )

    for name in ("1", ".1.crc"):
        p = os.path.join(ck, "commits", name)
        if os.path.exists(p):
            os.remove(p)
    _run_once(spark, inp, state, ck)

    got_idx = sorted(
        r["video_id"]
        for r in load_reference_fps(spark, state, VIDEO_FP_SCHEMA).collect()
    )
    got_v = sorted(
        (r["video_id"], r["outcome"])
        for r in load_media_verdicts(spark, state).collect()
    )
    assert got_idx == want_idx and got_v == want_v

    # the healed index still dedups a third wave
    _write_wave(spark, inp, [("m", _avi("z", fps=30))])
    _run_once(spark, inp, state, ck)
    v = {
        r["video_id"]: r
        for r in load_media_verdicts(spark, state).collect()
    }
    assert v["m"]["outcome"] == "ref_dup" and v["m"]["match_ref_id"] == "d"


def test_compact_media_index(spark, tmp_path):
    """Compaction merges all-but-the-newest fingerprint epochs into the
    oldest dir: same index content, fewer epoch dirs, and the healed
    strictly-below loader contract still dedups the next wave."""
    from ordinarydumpdeduplicator_spark.streaming.media_ingest import (
        compact_media_index,
    )

    inp = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    os.makedirs(inp, exist_ok=True)

    for unit in ("x", "y", "z"):
        _write_wave(spark, inp, [(unit, _avi(unit))])
        _run_once(spark, inp, state, ck)

    def index_rows():
        return sorted(
            (r["video_id"], tuple(r["frame_hashes"] or []))
            for r in load_reference_fps(
                spark, state, VIDEO_FP_SCHEMA
            ).collect()
        )

    before = index_rows()
    fps_dir = os.path.join(state, "fps")
    assert len(os.listdir(fps_dir)) == 3

    assert compact_media_index(spark, state, VIDEO_FP_SCHEMA) == 2
    dirs = sorted(os.listdir(fps_dir))
    assert len(dirs) == 2 and dirs[0] == "epoch=0"
    assert index_rows() == before

    # idempotent / no-op below 3 epochs
    assert compact_media_index(spark, state, VIDEO_FP_SCHEMA) == 0

    # the compacted index still dedups: re-upload a re-mux of wave-1
    # content whose delta now lives in the merged epoch
    _write_wave(spark, inp, [("rx", _avi("x", fps=25))])
    _run_once(spark, inp, state, ck)
    v = {
        r["video_id"]: r
        for r in load_media_verdicts(spark, state).collect()
    }
    assert v["rx"]["outcome"] == "ref_dup" and v["rx"]["match_ref_id"] == "x"


def test_streaming_media_recall_gate(spark, tmp_path):
    """Every planted pair of a ``spark_videos_df`` corpus streamed in
    four waves — exact, re-muxed and near pairs, three of them split
    across two waves — ends in one cluster, each video assigned to its
    reference match, else its batch canonical, else itself: pair recall
    is exactly 1.0."""
    import pandas as pd

    from ordinarydumpdeduplicator_spark.fixtures.generator import (
        spark_videos_df,
    )
    from ordinarydumpdeduplicator_spark.operators.dedup_eval import (
        dedup_pair_metrics,
    )
    from pyspark.sql import functions as F

    inp = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    os.makedirs(inp, exist_ok=True)
    n = 42
    pdf = (
        spark_videos_df(spark, n, seed=5).toPandas()
        .sort_values("video_id").reset_index(drop=True)
    )
    # units of two (v<2u>, v<2u+1>); unit % 10 in (0, 1, 2) is a planted
    # exact, re-mux or near pair. Cuts at 5, 21 and 23 split the near
    # unit 2, the exact unit 10 and the re-mux unit 11 across waves
    cuts = [0, 5, 21, 23, n]
    for lo, hi in zip(cuts, cuts[1:]):
        spark.createDataFrame(
            pdf.iloc[lo:hi], INPUT_SCHEMA
        ).coalesce(1).write.mode("append").parquet(inp)
        _run_once(spark, inp, state, ck)
    golden = pd.DataFrame(
        [
            (f"v{2 * u:09d}", f"v{2 * u + 1:09d}")
            for u in range(n // 2)
            if u % 10 in (0, 1, 2)
        ],
        columns=["id_a", "id_b"],
    )
    assign = load_media_verdicts(spark, state).select(
        "video_id",
        F.coalesce("match_ref_id", "batch_canonical_id", "video_id").alias(
            "cluster_id"
        ),
    )
    [m] = dedup_pair_metrics(
        assign,
        spark.createDataFrame(golden, "id_a string, id_b string"),
        id_col="video_id",
    ).collect()
    assert assign.count() == n
    assert m.n_golden == 7
    assert m.pair_recall == 1.0, m


# three waves at prune threshold 0: fresh content (and a NULL payload);
# a re-mux of indexed content, a new item and its within-batch re-mux;
# then only re-muxes of indexed content, so the third wave indexes
# nothing and takes the early return
MEDIA_CRASH_WAVES = [
    [("a", _avi("x")), ("c", _avi("y")), ("n1", None)],
    [("b", _avi("x", fps=25)), ("d", _avi("z")), ("d2", _avi("z", fps=25))],
    [("e", _avi("y", fps=30)), ("f", _avi("z", fps=15))],
]
MEDIA_STORES = ("verdicts", "metrics", "fps", "keys", "blooms")


def _run_pruned(spark, inp, state, ck):
    stream_media_novelty(
        spark, inp, state, ck,
        fingerprint_fn=video_fingerprints,
        input_schema=INPUT_SCHEMA,
        fp_schema=VIDEO_FP_SCHEMA,
        prune_min_index_bytes=0,
    ).awaitTermination()


def _media_stores(state):
    """Every epoch dir of the media stream's stores, with its rows
    (sorted; fingerprint rows with their ``__ref_shard``) when
    committed, else None."""
    out = {}
    for store in MEDIA_STORES:
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
def uninterrupted_media_stores(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("media_uninterrupted")
    inp, state, ck = (str(root / d) for d in ("in", "state", "ck"))
    os.makedirs(inp)
    for rows in MEDIA_CRASH_WAVES:
        _write_wave(spark, inp, rows)
        _run_pruned(spark, inp, state, ck)
    return _media_stores(state)


# (owner, attribute, crash before or after the call, the store whose
# path the call must carry, the wave that crashes): the second wave's
# writes in the order they commit (the fps and keys deltas run side by
# side), and the third wave's last write before its early return
MEDIA_CRASH_POINTS = {
    "verdicts": (DataFrameWriter, "parquet", "before", "verdicts", 1),
    "metrics": (media_ingest, "write_row_epoch", "before", "metrics", 1),
    "fps": (media_ingest, "write_clustered", "before", "fps", 1),
    "keys": (state_store.KeyIndex, "write", "before", "keys", 1),
    "refresh": (state_store.KeyIndex, "refresh", "before", None, 1),
    "commit": (state_store.KeyIndex, "refresh", "after", None, 1),
    "no_novel": (media_ingest, "write_row_epoch", "after", "metrics", 2),
}


@pytest.mark.parametrize("point", list(MEDIA_CRASH_POINTS))
def test_media_crash_at_each_write_boundary_restarts_to_identical_state(
    spark, tmp_path, monkeypatch, uninterrupted_media_stores, point
):
    """The media query dies at one write boundary of a wave and is
    restarted on the same checkpoint: the replayed wave and the ones
    after it leave every epoch of the verdicts, metrics, fps, keys and
    blooms stores row for row as an uninterrupted run does."""
    owner, target, when, store, wave = MEDIA_CRASH_POINTS[point]
    inp, state, ck = (str(tmp_path / d) for d in ("in", "state", "ck"))
    os.makedirs(inp)
    for rows in MEDIA_CRASH_WAVES[:wave]:
        _write_wave(spark, inp, rows)
        _run_pruned(spark, inp, state, ck)

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
    _write_wave(spark, inp, MEDIA_CRASH_WAVES[wave])
    with pytest.raises(Exception, match=f"crash at {point}"):
        _run_pruned(spark, inp, state, ck)
    _run_pruned(spark, inp, state, ck)
    assert crashed == [point]
    for rows in MEDIA_CRASH_WAVES[wave + 1:]:
        _write_wave(spark, inp, rows)
        _run_pruned(spark, inp, state, ck)

    assert _media_stores(state) == uninterrupted_media_stores
