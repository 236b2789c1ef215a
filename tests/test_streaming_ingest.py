"""Streaming ingest-dedup == batch first-occurrence dedup on the same
corpus, across availableNow restarts, with bloom-index state carried
between batches, crash-replay healing at every write boundary, and a
lost bloom snapshot rebuilt from the key store."""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ordinarydumpdeduplicator_spark.streaming import ingest_dedup, state_store
from ordinarydumpdeduplicator_spark.streaming.ingest_dedup import (
    load_new_docs,
    stream_ingest_dedup,
)

PARAMS = dict(n_shards=8, bits_per_shard=1 << 12)


def _docs(spark, ids_texts):
    return spark.createDataFrame(ids_texts, "doc_id long, text string")


def _write_wave(spark, inp, rows):
    _docs(spark, rows).coalesce(1).write.mode("append").parquet(inp)


def _run_once(spark, inp, state, ck):
    q = stream_ingest_dedup(spark, inp, state, ck, **PARAMS)
    q.awaitTermination()


def _expected_first_occurrence(rows):
    seen, keep = {}, []
    for doc_id, text in sorted(rows):
        key = " ".join(text.lower().split()) if text is not None else None
        if key is None:
            keep.append(doc_id)
        elif key not in seen:
            seen[key] = doc_id
            keep.append(doc_id)
    return sorted(keep)


def test_stream_ingest_dedup_matches_batch(spark, tmp_path):
    inp = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    os.makedirs(inp, exist_ok=True)

    # NULL-text docs are never deduplicable: every one stays "new"
    wave1 = [(i, f"text number {i % 40}") for i in range(100)] + [
        (500, None),
        (501, None),
    ]
    # wave 2 repeats wave-1 keys 0..19, adds new keys 40..59 + a NULL
    wave2 = [(100 + i, f"text number {i % 60}") for i in range(120)] + [
        (502, None)
    ]
    # wave 3 is ALL duplicates: empty new/keys epochs must round-trip
    wave3 = [(600 + i, f"text number {i}") for i in range(20)]

    _write_wave(spark, inp, wave1)
    _run_once(spark, inp, state, ck)
    got1 = sorted(r.doc_id for r in load_new_docs(spark, state).collect())
    assert got1 == _expected_first_occurrence(wave1)
    assert {500, 501} <= set(got1)

    _write_wave(spark, inp, wave2)
    _run_once(spark, inp, state, ck)
    got2 = sorted(r.doc_id for r in load_new_docs(spark, state).collect())
    assert got2 == _expected_first_occurrence(wave1 + wave2)
    assert 502 in got2

    _write_wave(spark, inp, wave3)
    _run_once(spark, inp, state, ck)
    got3 = sorted(r.doc_id for r in load_new_docs(spark, state).collect())
    assert got3 == got2, "all-duplicate wave must add nothing"

    # restart with no new input: no state change
    _run_once(spark, inp, state, ck)
    got4 = sorted(r.doc_id for r in load_new_docs(spark, state).collect())
    assert got4 == got2


def test_stream_ingest_replay_heals(spark, tmp_path):
    """Crash in the gap between 'epoch parquet committed' and 'stream
    checkpoint committed': the replayed batch overwrites its own epoch
    dirs, so nothing duplicates and the bloom snapshot stays correct."""
    inp = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    os.makedirs(inp, exist_ok=True)

    _write_wave(spark, inp, [(i, f"t {i % 10}") for i in range(30)])
    _run_once(spark, inp, state, ck)
    _write_wave(spark, inp, [(100 + i, f"t {i % 20}") for i in range(40)])
    _run_once(spark, inp, state, ck)
    want = sorted(r.doc_id for r in load_new_docs(spark, state).collect())

    # simulate the crash: drop batch 1's stream commit (and its .crc) so
    # Structured Streaming replays it against the already-written state
    for name in ("1", ".1.crc"):
        p = os.path.join(ck, "commits", name)
        if os.path.exists(p):
            os.remove(p)
    _run_once(spark, inp, state, ck)
    got = sorted(r.doc_id for r in load_new_docs(spark, state).collect())
    assert got == want

    # and the bloom snapshot still dedups a third wave correctly
    _write_wave(spark, inp, [(200 + i, f"t {i % 30}") for i in range(30)])
    _run_once(spark, inp, state, ck)
    got3 = sorted(r.doc_id for r in load_new_docs(spark, state).collect())
    # keys t0..t19 already known; t20..t29 are new (first holder: 220+i)
    assert got3 == want + [220 + i for i in range(10)]


def test_stream_ingest_metrics_accounting(spark, tmp_path):
    from ordinarydumpdeduplicator_spark.streaming.ingest_dedup import (
        load_ingest_metrics,
    )

    inp = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    os.makedirs(inp, exist_ok=True)

    # wave 1: 10 distinct keys x2 copies each + 1 NULL
    wave1 = [(i, f"k {i % 10}") for i in range(20)] + [(900, None)]
    # wave 2: 5 history dups, 5 new keys (x2 copies), 1 NULL
    wave2 = [(100 + i, f"k {5 + (i % 10)}") for i in range(20)] + [
        (901, None)
    ]
    _write_wave(spark, inp, wave1)
    _run_once(spark, inp, state, ck)
    _write_wave(spark, inp, wave2)
    _run_once(spark, inp, state, ck)

    m = {r.batch_id: r for r in load_ingest_metrics(spark, state).collect()}
    assert set(m) == {0, 1}
    r0, r1 = m[0], m[1]
    assert (r0.n_in, r0.n_null_key, r0.n_batch_dup, r0.n_history_dup,
            r0.n_new) == (21, 1, 10, 0, 10)
    # wave 2: 20 text rows over keys 5..14 (2 copies each) + NULL;
    # keys 5..9 are history dups, keys 10..14 are new
    assert (r1.n_in, r1.n_null_key, r1.n_batch_dup, r1.n_history_dup,
            r1.n_new) == (21, 1, 10, 5, 5)
    for r in m.values():
        assert r.n_in == r.n_null_key + r.n_batch_dup + r.n_history_dup + r.n_new
    # accounting must agree with the shipped corpus (new + NULL
    # passthrough rows are what load_new_docs returns)
    total = sum(r.n_new + r.n_null_key for r in m.values())
    assert total == load_new_docs(spark, state).count()


def test_compact_ingest_keys(spark, tmp_path):
    """Key-store compaction: same keys, fewer epoch dirs, shard
    clustering preserved, and the next wave still dedups against the
    merged history."""
    import os

    from ordinarydumpdeduplicator_spark.streaming.ingest_dedup import (
        compact_ingest_keys,
        load_new_docs,
        stream_ingest_dedup,
    )

    inp = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    os.makedirs(inp, exist_ok=True)

    def wave(rows):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(inp)
        q = stream_ingest_dedup(spark, inp, state, ck)
        q.awaitTermination()

    wave([(1, "alpha"), (2, "beta")])
    wave([(3, "gamma")])
    wave([(4, "delta")])

    keys_dir = os.path.join(state, "keys")

    def key_set():
        from ordinarydumpdeduplicator_spark.streaming.state_store import (
            _committed_epochs,
        )

        return sorted(
            (r["content_sha"], r["shard"])
            for r in spark.read.schema("content_sha string, shard int")
            .parquet(*[p for _, p in _committed_epochs(keys_dir)])
            .collect()
        )

    before = key_set()
    assert len(os.listdir(keys_dir)) == 3
    assert compact_ingest_keys(spark, state) == 2
    assert len(os.listdir(keys_dir)) == 2
    assert key_set() == before

    # history dedup across the compaction boundary: re-send old text
    wave([(5, "alpha"), (6, "epsilon")])
    new_ids = sorted(
        r["doc_id"] for r in load_new_docs(spark, state).collect()
    )
    assert 5 not in new_ids and 6 in new_ids


# three waves with within-batch, history and NULL-text duplicates
CRASH_WAVES = [
    [(i, f"w {i % 12}") for i in range(30)] + [(90, None)],
    [(100 + i, f"w {i % 20}") for i in range(30)] + [(190, None)],
    [(200 + i, f"w {5 + i % 25}") for i in range(30)],
]


def _stores(state):
    """Every epoch dir of the ingest's stores, with its rows (sorted)
    when committed, else None."""
    out = {}
    for store in ("new", "keys", "blooms", "metrics"):
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
def uninterrupted_stores(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("uninterrupted")
    inp, state, ck = (str(root / d) for d in ("in", "state", "ck"))
    os.makedirs(inp)
    for rows in CRASH_WAVES:
        _write_wave(spark, inp, rows)
        _run_once(spark, inp, state, ck)
    return _stores(state)


@pytest.mark.parametrize(
    "target, when",
    [
        ("write_row_epoch", "before"),  # after the new/ write
        ("write", "before"),  # after the metrics row
        ("refresh", "before"),  # after the key delta
        ("refresh", "after"),  # after the snapshot, before the commit
    ],
    ids=["metrics", "keys", "blooms", "commit"],
)
def test_crash_at_each_write_boundary_restarts_to_identical_state(
    spark, tmp_path, monkeypatch, uninterrupted_stores, target, when
):
    """The query dies at one write boundary of the second batch and is
    restarted on the same checkpoint: the replayed batch and the next
    one leave every store (new docs, key deltas, bloom bits, metrics)
    row for row as an uninterrupted run does."""
    inp, state, ck = (str(tmp_path / d) for d in ("in", "state", "ck"))
    os.makedirs(inp)
    _write_wave(spark, inp, CRASH_WAVES[0])
    _run_once(spark, inp, state, ck)

    owner = (
        state_store.KeyIndex if target in ("write", "refresh") else ingest_dedup
    )
    original = getattr(owner, target)
    crashed = []

    def crash_once(*args, **kwargs):
        if when == "after":
            original(*args, **kwargs)
        if not crashed:
            crashed.append(target)
            raise RuntimeError(f"crash at {target} ({when})")
        if when == "before":
            original(*args, **kwargs)

    monkeypatch.setattr(owner, target, crash_once)
    _write_wave(spark, inp, CRASH_WAVES[1])
    with pytest.raises(Exception, match=f"crash at {target}"):
        _run_once(spark, inp, state, ck)
    _run_once(spark, inp, state, ck)
    assert crashed == [target]
    _write_wave(spark, inp, CRASH_WAVES[2])
    _run_once(spark, inp, state, ck)

    assert _stores(state) == uninterrupted_stores
    got = sorted(r.doc_id for r in load_new_docs(spark, state).collect())
    assert got == _expected_first_occurrence(sum(CRASH_WAVES, []))


def test_lost_bloom_snapshot_rebuilds_from_key_store(spark, tmp_path):
    """With ``blooms/`` gone, the next batch treats every key as a bloom
    hit: it stays exact against the whole key history, writes a fresh
    snapshot that keys the whole store, and later batches probe it."""
    inp, state, ck = (str(tmp_path / d) for d in ("in", "state", "ck"))
    os.makedirs(inp)
    waves = [
        [(i, f"lost {i % 15}") for i in range(30)] + [(90, None)],
        [(100 + i, f"lost {10 + i % 15}") for i in range(30)],
        # history duplicates of both waves, new keys, a NULL, and a
        # within-batch duplicate of a new key
        [(200 + i, f"lost {i * 3}") for i in range(15)]
        + [(300, None), (301, "lost 99"), (302, "LOST   99")],
        # all duplicates of the first two waves: the rebuilt snapshot
        # must know the keys written before it was lost
        [(400 + i, f"lost {i}") for i in range(25)],
    ]
    for rows in waves[:2]:
        _write_wave(spark, inp, rows)
        _run_once(spark, inp, state, ck)
    blooms = os.path.join(state, "blooms")
    shutil.rmtree(blooms)

    _write_wave(spark, inp, waves[2])
    _run_once(spark, inp, state, ck)
    got = sorted(r.doc_id for r in load_new_docs(spark, state).collect())
    assert got == _expected_first_occurrence(sum(waves[:3], []))
    assert 300 in got and 301 in got and 302 not in got
    assert state_store.latest_epoch(blooms) == os.path.join(blooms, "epoch=2")

    _write_wave(spark, inp, waves[3])
    _run_once(spark, inp, state, ck)
    assert sorted(
        r.doc_id for r in load_new_docs(spark, state).collect()
    ) == got
