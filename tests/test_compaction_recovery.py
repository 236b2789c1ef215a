"""Crash-safety of the epoch-store compaction swap (streaming/state_store
.compact_epoch_dirs): every interrupt window — before the renames,
between them, mid-cleanup — must be healed by recover_compaction, which
the epoch loader itself invokes, so a stream restarted over a crashed
compaction neither crashes on the leftover dirs (the old int() parse
bug) nor silently under- or double-reads the store."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from ordinarydumpdeduplicator_spark.streaming import state_store as nd

SCHEMA = "id long, val string"


def _write_epochs(spark, base: str, n: int = 3) -> None:
    for e in range(n):
        spark.createDataFrame(
            [(e * 10 + i, f"v{e}-{i}") for i in range(4)], SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(base, f"epoch={e}")
        )


def _rows(spark, base: str):
    dirs = [p for _, p in nd._committed_epochs(base)]
    return sorted(
        (r["id"], r["val"])
        for r in spark.read.schema(SCHEMA).parquet(*dirs).collect()
    )


def test_loader_skips_and_sweeps_stray_swap_dirs(spark, tmp_path):
    """Leftover epoch=N.compacting / .pre_compact dirs (lo intact) used
    to brick _committed_epochs with ValueError; now they are swept and
    the parse only accepts pure-integer epochs."""
    base = str(tmp_path / "store")
    _write_epochs(spark, base)
    os.makedirs(os.path.join(base, "epoch=0.compacting"))
    os.makedirs(os.path.join(base, "epoch=7.pre_compact"))
    # a pre_compact whose lo is missing and whose tmp is uncommitted
    # rolls BACK: the backup becomes epoch=7 again — but give it no
    # _SUCCESS so it stays out of the committed listing
    epochs = nd._committed_epochs(base)
    assert [e for e, _ in epochs] == [0, 1, 2]
    left = sorted(os.listdir(base))
    assert not any(
        d.endswith(".compacting") or d.endswith(".pre_compact")
        for d in left
    ), left


def test_compact_crash_between_renames_rolls_forward(spark, tmp_path):
    """The ADVICE window: crash after rename(lo, pre) but before
    rename(tmp, lo) leaves NO epoch=<lo> dir. The committed .compacting
    dir must be rolled forward by the next loader, with the merged-away
    epochs removed per its manifest — content identical to a successful
    compaction."""
    base = str(tmp_path / "store")
    _write_epochs(spark, base)
    want = _rows(spark, base)

    calls = {"n": 0}
    real_rename = os.rename

    def crashing_rename(src, dst):
        calls["n"] += 1
        if calls["n"] == 2:  # the tmp -> lo rename
            raise OSError("simulated crash between renames")
        real_rename(src, dst)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(os, "rename", crashing_rename)
        with pytest.raises(OSError, match="simulated crash"):
            nd.compact_epoch_dirs(spark, base, SCHEMA)

    # the crashed state: lo gone, backup + committed merge present
    assert not os.path.isdir(os.path.join(base, "epoch=0"))
    assert os.path.isdir(os.path.join(base, "epoch=0.pre_compact"))
    assert os.path.exists(
        os.path.join(base, "epoch=0.compacting", "_SUCCESS")
    )

    # the loader heals: rolls the merge forward and finishes cleanup
    assert _rows(spark, base) == want
    dirs = sorted(os.listdir(base))
    assert dirs == ["epoch=0", "epoch=2"], dirs
    assert not os.path.exists(
        os.path.join(base, "epoch=0", nd._MANIFEST)
    )


def test_compact_crash_before_swap_rolls_back(spark, tmp_path):
    """Crash before rename(lo, pre): lo intact, stray tmp. Recovery
    deletes the stray and a re-run compacts normally."""
    base = str(tmp_path / "store")
    _write_epochs(spark, base)
    want = _rows(spark, base)

    real_rename = os.rename

    def crashing_rename(src, dst):
        raise OSError("simulated crash before swap")

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(os, "rename", crashing_rename)
        with pytest.raises(OSError, match="before swap"):
            nd.compact_epoch_dirs(spark, base, SCHEMA)
    assert os.path.isdir(os.path.join(base, "epoch=0.compacting"))

    assert _rows(spark, base) == want  # loader heals (sweeps the stray)
    assert nd.compact_epoch_dirs(spark, base, SCHEMA) == 2
    assert sorted(os.listdir(base)) == ["epoch=0", "epoch=2"]
    assert _rows(spark, base) == want
    del real_rename


def test_compact_crash_mid_cleanup_heals(spark, tmp_path):
    """Crash after the swap but before the merged-away epochs are
    removed: the manifest inside lo drives the loader's cleanup, so the
    store is never double-read."""
    base = str(tmp_path / "store")
    _write_epochs(spark, base)
    want = _rows(spark, base)

    real_rmtree = shutil.rmtree

    def crashing_rmtree(path, **kw):
        if os.path.basename(path) == "epoch=1":
            raise OSError("simulated crash mid-cleanup")
        real_rmtree(path, **kw)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(shutil, "rmtree", crashing_rmtree)
        with pytest.raises(OSError, match="mid-cleanup"):
            nd.compact_epoch_dirs(spark, base, SCHEMA)

    # crashed state: swap done (lo = merged, manifest present), epoch=1
    # not yet removed — a naive loader would read its rows twice
    assert os.path.exists(os.path.join(base, "epoch=0", nd._MANIFEST))
    assert os.path.isdir(os.path.join(base, "epoch=1"))

    assert _rows(spark, base) == want  # healed: no double-read
    assert sorted(os.listdir(base)) == ["epoch=0", "epoch=2"]


def test_recover_is_idempotent_and_manifest_format(spark, tmp_path):
    base = str(tmp_path / "store")
    _write_epochs(spark, base)
    assert nd.compact_epoch_dirs(spark, base, SCHEMA) == 2
    before = _rows(spark, base)
    nd.recover_compaction(base)
    nd.recover_compaction(base)
    assert _rows(spark, base) == before

    # manifest round-trip: what compaction writes, cleanup can read
    man = {"merged": ["epoch=0", "epoch=1"]}
    assert json.loads(json.dumps(man)) == man
