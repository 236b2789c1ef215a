"""Region-level image dedup: dihedral-canonical pixel identity +
per-tile pHash near-dup (operators/image_region_dedup.py), planted-class
golden clusters + tier attribution + tile-hash bit-exactness."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from ordinarydumpdeduplicator_spark.fixtures import codecs
from ordinarydumpdeduplicator_spark.fixtures.generator import (
    _make_pixels,
    _rng,
    gen_region_image_row,
    spark_region_images_df,
)
from ordinarydumpdeduplicator_spark.functions.phash import (
    _bin_edges,
    phash64,
    tile_phashes,
)
from ordinarydumpdeduplicator_spark.operators.image_region_dedup import (
    dihedral_sha256,
    image_region_dedup_report,
    image_region_fingerprints,
)

N = 40  # units 0..19: classes 0..9 twice -> 2 planted pairs per dup class


@pytest.fixture(scope="module")
def corpus(spark):
    """gen_region_image_row corpus + edge rows:
    e00 empty payload, e01 NULL payload (Broken sentinel),
    e02/e03 byte-identical undecodable (valid magic, corrupt body) —
    garbage payloads still form one exact group (reference semantics)."""
    rows = [
        (r["image_id"], r["bytes"])
        for r in (gen_region_image_row(i) for i in range(N))
    ]
    corrupt = codecs.encode(
        _make_pixels(_rng(42, "corrupt"), 64, 48), "png"
    )[:40]
    rows += [("e00", b""), ("e01", None), ("e02", corrupt), ("e03", corrupt)]
    return spark.createDataFrame(rows, "image_id string, bytes binary")


@pytest.fixture(scope="module")
def report(corpus):
    r = image_region_dedup_report(corpus)
    return {k: v.toPandas() for k, v in r.items()}


def _classes():
    return {f"r{i:09d}": gen_region_image_row(i)["_class"] for i in range(N)}


def test_tile_phashes_bit_exact_vs_crop():
    """Each tile's hash from the shared integral image is bit-identical
    to phash64 of that tile's crop."""
    pixels = _make_pixels(_rng(42, "tilecheck"), 64, 48)
    got = tile_phashes(pixels)
    ylo, yhi = _bin_edges(48, 4)
    xlo, xhi = _bin_edges(64, 4)
    for ty in range(4):
        for tx in range(4):
            crop = pixels[ylo[ty]:yhi[ty], xlo[tx]:xhi[tx]]
            assert got[ty * 4 + tx] == phash64(crop), (ty, tx)


def test_dihedral_sha_invariance():
    """All 8 orientations of one image share the canonical digest;
    a different image does not."""
    p = _make_pixels(_rng(42, "dih"), 64, 48)
    ref = dihedral_sha256(p)
    for flip in (p, p[:, ::-1]):
        for k in range(4):
            assert dihedral_sha256(np.ascontiguousarray(
                np.rot90(flip, k))) == ref
    q = _make_pixels(_rng(42, "dih2"), 64, 48)
    assert dihedral_sha256(q) != ref


def test_fingerprint_statuses(report):
    fp = report["fingerprints"].set_index("image_id")
    assert fp.loc["e00", "status"] == "empty"
    assert fp.loc["e01", "status"] == "error"
    assert fp.loc["e02", "status"] == "undecodable"
    assert fp.loc["e02", "file_sha"] is not None  # corrupt still hashes
    assert fp.loc["e01", "file_sha"] is None  # Broken sentinel
    for i in range(N):
        assert fp.loc[f"r{i:09d}", "status"] == "ok", i
        assert len(fp.loc[f"r{i:09d}", "tile_hashes"]) == 16
    # orientation-invariant dims key: dihedral pair shares it
    assert fp.loc["r000000002", "dims_key"] == fp.loc["r000000003", "dims_key"]


def test_golden_clusters(report):
    cl = dict(zip(report["clusters"].image_id, report["clusters"].cluster_id))
    classes = _classes()
    n_groups = 0
    for unit in range(N // 2):
        a, b = f"r{2 * unit:09d}", f"r{2 * unit + 1:09d}"
        if classes[a] == "unique":
            assert cl[a] == a and cl[b] == b, unit  # singletons
        else:
            assert cl[a] == cl[b] == a, (unit, classes[a])  # min-id head
            n_groups += 1
    assert n_groups == 8  # 2 units per dup class x 4 classes
    # byte-identical undecodable pair is one exact group
    assert cl["e02"] == cl["e03"]
    # planted groups never cross-merge
    heads = {cl[k] for k in cl}
    assert len(heads) == len({v for v in cl.values()})
    dup = dict(zip(report["clusters"].image_id, report["clusters"].is_dup))
    assert sum(dup.values()) == 2 * 8 + 2


def test_tier_attribution(report):
    t = dict(zip(report["tiers"].image_id, report["tiers"].tier))
    classes = _classes()
    expect_kind = {
        "exact": "exact",
        "dihedral": "pixel_dihedral",
        "watermark": "tile_near",
        "banner": "tile_near",
    }
    for unit in range(N // 2):
        a, b = f"r{2 * unit:09d}", f"r{2 * unit + 1:09d}"
        if classes[a] == "unique":
            assert t[a] == t[b] == "unique", unit
        else:
            assert t[a] == "canonical", unit
            assert t[b] == expect_kind[classes[a]], (unit, classes[a])
    assert t["e02"] == "canonical" and t["e03"] == "exact"
    assert t["e00"] == "unique" and t["e01"] == "unique"


def test_edge_kinds(report):
    """The local-edit pairs verify as tile_near with the expected
    symmetric fraction: 4 of 16 tiles edited on one side -> >= 0.75."""
    e = report["edges"]
    kinds = {(frozenset((s, d)), k) for s, d, k in zip(e.src, e.dst, e.kind)}
    classes = _classes()
    for unit in range(N // 2):
        a, b = f"r{2 * unit:09d}", f"r{2 * unit + 1:09d}"
        c = classes[a]
        if c == "exact":
            assert (frozenset((a, b)), "exact") in kinds, unit
        elif c == "dihedral":
            assert (frozenset((a, b)), "pixel_dihedral") in kinds, unit
        elif c in ("watermark", "banner"):
            assert (frozenset((a, b)), "tile_near") in kinds, (unit, c)


def test_distributed_generator_matches_local(spark):
    got = {
        r.image_id: bytes(r.bytes)
        for r in spark_region_images_df(spark, N, partitions=4).collect()
    }
    for i in range(N):
        row = gen_region_image_row(i)
        assert got[row["image_id"]] == row["bytes"], i


def test_payload_never_shuffled(corpus):
    """Plan gate: no Exchange below the mapInPandas — bytes stay
    partition-local; only skinny fingerprints shuffle."""
    fps = image_region_fingerprints(corpus)
    plan = fps._jdf.queryExecution().executedPlan().toString()
    head = plan.split("MapInPandas")[0]
    assert "Exchange" not in head


def test_empty_input(spark):
    empty = spark.createDataFrame([], "image_id string, bytes binary")
    r = image_region_dedup_report(empty)
    assert r["clusters"].count() == 0
    assert r["tiers"].count() == 0


def test_precomputed_fingerprints_reuse(corpus):
    """Production shape: a materialized fingerprint frame skips the
    decode pass and yields identical clusters."""
    fps = image_region_fingerprints(corpus)
    r = image_region_dedup_report(corpus.limit(0), fingerprints=fps)
    cl = {x.image_id: x.cluster_id for x in r["clusters"].collect()}
    assert cl["r000000000"] == cl["r000000001"]
    assert cl["r000000004"] == cl["r000000005"]
