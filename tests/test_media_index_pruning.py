"""Per-batch pruning of the streaming media fingerprint index
(streaming/media_ingest.prune_reference_fps): a miss-only batch reads
ZERO index rows, a hit batch's fingerprint scan carries the
``__ref_shard IN (...)`` literal for row-group pruning, and pruned
verdicts are identical to the full-scan path's."""

from __future__ import annotations

import glob
import os
import re

from pyspark.sql import functions as F

from ordinarydumpdeduplicator_spark.fixtures import codecs
from ordinarydumpdeduplicator_spark.fixtures.generator import (
    _make_pixels,
    _rng,
)
from ordinarydumpdeduplicator_spark.operators.video_dedup import (
    VIDEO_FP_SCHEMA,
    video_fingerprints,
)
from ordinarydumpdeduplicator_spark.streaming.media_ingest import (
    load_media_verdicts,
    load_reference_fps,
    prune_reference_fps,
    stream_media_novelty,
)

INPUT_SCHEMA = "video_id string, bytes binary"


def _frames(unit: str, n: int = 8):
    return [_make_pixels(_rng(3, "mip", unit, i), 32, 24) for i in range(n)]


def _avi(unit: str, fps: int = 10) -> bytes:
    return codecs.encode_avi_rgb(_frames(unit), fps=fps)


def _write_wave(spark, inp, rows):
    spark.createDataFrame(rows, INPUT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(inp)


def _run_once(spark, inp, state, ck, prune=True):
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
        prune_min_index_bytes=0 if prune else 1 << 60,
    )
    q.awaitTermination()


def _fps_frame(spark, rows):
    return video_fingerprints(
        spark.createDataFrame(rows, INPUT_SCHEMA)
    )


def _corrupt_parquet(base: str) -> int:
    """Overwrite every parquet part file under ``base`` with garbage —
    ANY subsequent read of these rows throws, so a passing run proves
    the rows were never read."""
    parts = glob.glob(os.path.join(base, "**", "part-*.parquet"),
                      recursive=True)
    for p in parts:
        with open(p, "wb") as f:
            f.write(b"not parquet at all")
    return len(parts)


def test_miss_only_probe_reads_zero_index_rows(spark, tmp_path):
    inp, state, ck = (str(tmp_path / d) for d in ("in", "state", "ck"))
    os.makedirs(inp, exist_ok=True)
    _write_wave(spark, inp, [("a", _avi("x")), ("c", _avi("y"))])
    _run_once(spark, inp, state, ck)

    # content sharing no band slice and no sha with the index: the
    # probe must conclude None WITHOUT scanning fps or keys rows —
    # corrupting both stores makes any read a hard failure
    assert _corrupt_parquet(os.path.join(state, "fps")) > 0
    assert _corrupt_parquet(os.path.join(state, "keys")) > 0

    batch = _fps_frame(spark, [("m1", _avi("fresh-unit"))])
    ref = prune_reference_fps(
        spark, state, batch, VIDEO_FP_SCHEMA,
        id_col="video_id", hashes_col="frame_hashes",
    )
    assert ref is None

    # the full streaming batch also completes over the corrupted index
    _write_wave(spark, inp, [("m1", _avi("fresh-unit"))])
    _run_once(spark, inp, state, ck)
    v = {
        r["video_id"]: r["outcome"]
        for r in load_media_verdicts(spark, state).collect()
    }
    assert v["m1"] == "novel"


def test_hit_probe_scan_carries_ref_shard_in_literal(spark, tmp_path):
    inp, state, ck = (str(tmp_path / d) for d in ("in", "state", "ck"))
    os.makedirs(inp, exist_ok=True)
    _write_wave(spark, inp, [("a", _avi("x")), ("c", _avi("y"))])
    _run_once(spark, inp, state, ck)

    batch = _fps_frame(spark, [("b", _avi("x", fps=25))])  # re-mux of a
    ref = prune_reference_fps(
        spark, state, batch, VIDEO_FP_SCHEMA,
        id_col="video_id", hashes_col="frame_hashes",
    )
    assert ref is not None
    ids = sorted(r["video_id"] for r in ref.collect())
    assert "a" in ids  # the true candidate survives the prune
    plan = ref._jdf.queryExecution().executedPlan().toString()
    # the fingerprint scan is shard-pruned by a pushed literal (In, or
    # EqualTo when one shard survives; legacy NULL-shard rows ride the
    # isnull escape hatch)
    assert (
        "In(__ref_shard" in plan or "EqualTo(__ref_shard" in plan
    ), plan
    assert "IsNull(__ref_shard)" in plan, plan


def test_keys_store_scan_carries_shard_in_literal(spark, tmp_path):
    """The key-store read after the probe is filtered by the bloom-hit
    shard list as a pushed IN literal — row-group stats prune the
    non-hit shards of the shard-clustered store."""
    from ordinarydumpdeduplicator_spark.streaming.media_ingest import (
        KEY_STORES,
        MEDIA_N_SHARDS,
        _probe_keys,
    )
    from ordinarydumpdeduplicator_spark.operators.bloom_dedup import (
        DEFAULT_BITS_PER_SHARD,
        DEFAULT_K_HASHES,
    )
    from ordinarydumpdeduplicator_spark.streaming.state_store import KeyIndex

    inp, state, ck = (str(tmp_path / d) for d in ("in", "state", "ck"))
    os.makedirs(inp, exist_ok=True)
    _write_wave(spark, inp, [("a", _avi("x")), ("c", _avi("y"))])
    _run_once(spark, inp, state, ck)

    index = KeyIndex(
        state, KEY_STORES,
        (MEDIA_N_SHARDS, DEFAULT_BITS_PER_SHARD, DEFAULT_K_HASHES),
    )
    index.at(spark, 1, {"keys": [os.path.join(state, "keys", "epoch=0")]})
    batch = _fps_frame(spark, [("b", _avi("x", fps=25))])  # re-mux of a
    index.probe(_probe_keys(batch, "video_id", "frame_hashes"))
    hit = index.hits()
    assert len(hit) > 1
    plan = index.read("keys")._jdf.queryExecution().executedPlan().toString()
    pushed = re.search(r"PushedFilters: .*In\(shard, \[([\d,]+)\]\)", plan)
    assert pushed, plan
    assert sorted(map(int, pushed.group(1).split(","))) == sorted(hit)


def test_pruned_verdicts_match_full_scan(spark, tmp_path):
    waves = [
        [("a", _avi("x")), ("c", _avi("y")), ("n1", None)],
        [
            ("b", _avi("x", fps=25)),       # re-mux of a -> ref_dup
            ("d", _avi("z")),               # novel
            ("d2", _avi("z", fps=25)),      # within-batch re-mux of d
        ],
        [("t", _avi("y", fps=30)), ("u", _avi("w"))],
    ]
    results = {}
    for mode in (True, False):
        inp = str(tmp_path / f"in_{mode}")
        state = str(tmp_path / f"state_{mode}")
        ck = str(tmp_path / f"ck_{mode}")
        os.makedirs(inp, exist_ok=True)
        for w in waves:
            _write_wave(spark, inp, w)
            _run_once(spark, inp, state, ck, prune=mode)
        results[mode] = (
            sorted(
                (
                    r["video_id"],
                    r["outcome"],
                    r["match_ref_id"],
                    r["match_frac"],
                    r["batch_canonical_id"],
                )
                for r in load_media_verdicts(spark, state).collect()
            ),
            sorted(
                (r["video_id"], tuple(r["frame_hashes"] or []))
                for r in load_reference_fps(
                    spark, state, VIDEO_FP_SCHEMA
                ).collect()
            ),
        )
    assert results[True] == results[False]


def test_jvm_shard_expression_matches_bloom_hashing(spark):
    """The shard column that clusters the key stores (the bloom's own
    ``md5_split``) agrees with the hashlib reference of the bloom's
    spec (first md5 byte mod n_shards) for every key — a drift would
    route keys to shards the probe never reads."""
    import pytest

    from ordinarydumpdeduplicator_spark.operators.bloom_dedup import md5_split
    from tests.conftest import bloom_reference

    keys = [f"b:{b}:{k}" for b in range(4) for k in range(50)] + [
        f"s:sha-{i}" for i in range(50)]
    frame = spark.createDataFrame([(k, "r") for k in keys],
                                  "key string, ref_id string")
    for n_shards in (8, 32, 256):
        shard = md5_split("key", n_shards)[0]
        got = {r["key"]: r["shard"]
               for r in frame.selectExpr("key", f"{shard} AS shard").collect()}
        assert got == {k: bloom_reference(k, n_shards, 1, 1)[0]
                       for k in keys}, n_shards
    # a non-power-of-two count has no shard expression: rejected
    with pytest.raises(ValueError, match="n_shards"):
        md5_split("key", 12)


def test_legacy_state_migrates_to_pruned_index(spark, tmp_path):
    """A state dir written before the probe-key store existed (or whose
    keys/blooms were lost) is migrated in one batch: that batch falls
    back to the full scan AND rebuilds the key store from the whole
    index, so the next batch prunes again — and both still dedup."""
    import shutil as sh

    inp, state, ck = (str(tmp_path / d) for d in ("in", "state", "ck"))
    os.makedirs(inp, exist_ok=True)
    _write_wave(spark, inp, [("a", _avi("x"))])
    _run_once(spark, inp, state, ck)
    _write_wave(spark, inp, [("c", _avi("y"))])
    _run_once(spark, inp, state, ck)

    sh.rmtree(os.path.join(state, "keys"))
    sh.rmtree(os.path.join(state, "blooms"))

    # migration batch: full-scan fallback still catches the re-mux
    _write_wave(spark, inp, [("rx", _avi("x", fps=25))])
    _run_once(spark, inp, state, ck)
    v = {
        r["video_id"]: r
        for r in load_media_verdicts(spark, state).collect()
    }
    assert v["rx"]["outcome"] == "ref_dup" and v["rx"]["match_ref_id"] == "a"
    assert os.path.isdir(os.path.join(state, "keys"))
    assert os.path.isdir(os.path.join(state, "blooms"))

    # post-migration batch: the rebuilt index prunes AND dedups content
    # from BEFORE the migration
    _write_wave(spark, inp, [("ry", _avi("y", fps=30))])
    _run_once(spark, inp, state, ck)
    v = {
        r["video_id"]: r
        for r in load_media_verdicts(spark, state).collect()
    }
    assert v["ry"]["outcome"] == "ref_dup" and v["ry"]["match_ref_id"] == "c"

    # and the migrated store prunes: a miss-only probe reads nothing
    batch = _fps_frame(spark, [("mm", _avi("another-fresh"))])
    assert (
        prune_reference_fps(
            spark, state, batch, VIDEO_FP_SCHEMA,
            id_col="video_id", hashes_col="frame_hashes",
        )
        is None
    )


def test_prune_modes_interchangeable_on_one_state_dir(spark, tmp_path):
    """The docstring's claim that prune modes are freely
    interchangeable on one state dir: waves alternating
    full-scan -> pruned -> full-scan keep deduping correctly (the
    key store is maintained in every mode; a snapshot, once created,
    stays fresh even in full-scan mode)."""
    inp, state, ck = (str(tmp_path / d) for d in ("in", "state", "ck"))
    os.makedirs(inp, exist_ok=True)

    _write_wave(spark, inp, [("a", _avi("x"))])
    _run_once(spark, inp, state, ck, prune=False)   # full scan
    _write_wave(spark, inp, [("b", _avi("x", fps=25)), ("c", _avi("y"))])
    _run_once(spark, inp, state, ck, prune=True)    # builds + probes bloom
    _write_wave(spark, inp, [("d", _avi("y", fps=30))])
    _run_once(spark, inp, state, ck, prune=False)   # keeps snapshot fresh
    _write_wave(spark, inp, [("e", _avi("x", fps=15)), ("f", _avi("w"))])
    _run_once(spark, inp, state, ck, prune=True)    # probes again

    v = {
        r["video_id"]: (r["outcome"], r["match_ref_id"])
        for r in load_media_verdicts(spark, state).collect()
    }
    assert v["b"] == ("ref_dup", "a")
    assert v["c"][0] == "novel"
    assert v["d"] == ("ref_dup", "c")
    assert v["e"] == ("ref_dup", "a")
    assert v["f"][0] == "novel"


def test_offline_prune_stops_at_newest_committed_keys_epoch(spark, tmp_path):
    """Without ``below``, an fps epoch whose probe-key twin never
    committed (a crash between the two writes) is left out of every
    listing: the offline call answers exactly like ``below`` set to
    that epoch."""
    inp, state, ck = (str(tmp_path / d) for d in ("in", "state", "ck"))
    os.makedirs(inp, exist_ok=True)
    _write_wave(spark, inp, [("a", _avi("x"))])
    _run_once(spark, inp, state, ck, prune=False)
    _write_wave(spark, inp, [("c", _avi("y"))])
    _run_once(spark, inp, state, ck, prune=False)
    os.remove(os.path.join(state, "keys", "epoch=1", "_SUCCESS"))

    batch = _fps_frame(spark, [("m", _avi("y", fps=25))])

    def ids(below):
        ref = prune_reference_fps(
            spark, state, batch, VIDEO_FP_SCHEMA,
            id_col="video_id", hashes_col="frame_hashes", below=below,
        )
        return sorted(r["video_id"] for r in ref.collect())

    assert ids(None) == ids(1) == ["a"]


def test_lost_key_store_reads_whole_index(spark, tmp_path):
    """A pruned state whose bloom snapshot survived but whose key store
    was lost: a bloom hit has no key store to resolve its ids, so the
    batch reads the whole index — a true re-upload is still a ref_dup
    (not novel), and the batch rebuilds the key store (migration)."""
    import shutil as sh

    inp, state, ck = (str(tmp_path / d) for d in ("in", "state", "ck"))
    os.makedirs(inp, exist_ok=True)
    _write_wave(spark, inp, [("a", _avi("x")), ("c", _avi("y"))])
    _run_once(spark, inp, state, ck)
    assert os.path.isdir(os.path.join(state, "blooms"))
    sh.rmtree(os.path.join(state, "keys"))

    _write_wave(spark, inp, [("b", _avi("x", fps=25))])
    _run_once(spark, inp, state, ck)
    v = {
        r["video_id"]: r
        for r in load_media_verdicts(spark, state).collect()
    }
    assert v["b"]["outcome"] == "ref_dup" and v["b"]["match_ref_id"] == "a"
    assert sorted(
        r["video_id"]
        for r in load_reference_fps(spark, state, VIDEO_FP_SCHEMA).collect()
    ) == ["a", "c"]
    assert os.path.isdir(os.path.join(state, "keys", "epoch=1"))
