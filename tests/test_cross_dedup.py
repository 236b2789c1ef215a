"""Cross-corpus fuzzy dedup (operators/cross_dedup.py): a NEW batch
matched against a REFERENCE corpus by the engine's MinHash/LSH + verify
chain, cross-side pairs only.

Semantics pinned here:
- an exact copy and a near copy in the reference both disqualify a
  batch doc; an unrelated doc stays novel;
- the match witness is the NUMERIC-min verified reference id;
- NULL/empty-text batch docs are novel (no shingles, same rule as the
  in-corpus candidate chain and the DuckDB oracle);
- the reference-side bucket cap keeps the min-id witness deterministic;
- within-side duplicates are never paired (that is the in-corpus
  operators' job)."""

from __future__ import annotations

from ordinarydumpdeduplicator_spark.operators.cross_dedup import (
    cross_corpus_matches,
    novel_docs,
)

LONG_A = (
    "the quick brown fox jumps over the lazy dog near the riverbank "
    "while the miller watches the turning wheel in the morning light"
)
# near-copy of LONG_A: one word changed, shingle overlap stays high
LONG_A_NEAR = (
    "the quick brown fox jumps over the lazy dog near the riverbank "
    "while the miller watches the turning wheel in the evening light"
)
LONG_B = (
    "completely different content about distributed query engines and "
    "vectorized execution with arrow batches flowing between operators"
)

REF = [
    (101, LONG_A),
    (102, LONG_B),
    (103, "short unrelated reference text nobody matches"),
]
BATCH = [
    (1, LONG_A),          # exact copy of ref 101
    (2, LONG_A_NEAR),     # near copy of ref 101
    (3, "entirely novel sentence with no counterpart anywhere at all"),
    (4, None),            # NULL text -> novel
    (5, ""),              # empty text -> novel
]


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_cross_corpus_matches(spark):
    out = cross_corpus_matches(_df(spark, BATCH), _df(spark, REF))
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {1, 2, 3, 4, 5}
    assert rows[1]["match_ref_id"] == 101 and not rows[1]["is_novel"]
    assert rows[2]["match_ref_id"] == 101 and not rows[2]["is_novel"]
    for novel_id in (3, 4, 5):
        assert rows[novel_id]["match_ref_id"] is None
        assert rows[novel_id]["is_novel"]


def test_no_within_side_pairs(spark):
    # two identical docs in the SAME batch, nothing similar in the
    # reference: both stay novel — the operator never pairs within a side
    batch = _df(spark, [(1, LONG_B), (2, LONG_B)])
    ref = _df(spark, [(900, LONG_A)])
    out = cross_corpus_matches(batch, ref)
    assert all(r["is_novel"] for r in out.collect())


def test_ref_bucket_cap_keeps_min_id_witness(spark):
    # 5 identical reference docs share every band; with cap=2 each bucket
    # is over cap and collapses to its min id — the verdict must still
    # find the match, with the min ref id as witness
    ref = _df(spark, [(200 + i, LONG_A) for i in range(5)])
    batch = _df(spark, [(1, LONG_A_NEAR)])
    out = cross_corpus_matches(batch, ref, ref_bucket_cap=2).collect()
    assert len(out) == 1
    assert out[0]["match_ref_id"] == 200
    assert not out[0]["is_novel"]


def test_novel_docs_keeps_full_payload(spark):
    kept = novel_docs(_df(spark, BATCH), _df(spark, REF))
    assert set(kept.columns) == {"doc_id", "text"}
    assert {r["doc_id"] for r in kept.collect()} == {3, 4, 5}


def test_cap_reference_buckets_exact_rule(spark):
    """The one reference-bucket cap rule, against a pure-Python oracle: a
    bucket of at most ``cap`` rows keeps them all, a larger one keeps only
    its STRING-minimum id, and payload columns ride through."""
    from collections import defaultdict

    from ordinarydumpdeduplicator_spark.operators.lsh import cap_reference_buckets

    cap = 3
    buckets = {
        (0, 7): ["9", "2"],                              # cap - 1
        (0, 8): ["9", "10", "2"],                        # cap
        (1, 7): ["9", "10", "11", "2"],                  # cap + 1
        (1, 8): ["9", "2", "30", "40", "100", "5"],      # 2 * cap
    }
    rows = [
        (band, key, i, f"p:{band}:{key}:{i}")
        for (band, key), ids in buckets.items()
        for i in ids
    ]
    df = spark.createDataFrame(
        rows, "band int, key long, id string, payload string"
    )
    got = sorted(
        tuple(r)
        for r in cap_reference_buckets(df, "id", cap)
        .select("band", "key", "id", "payload")
        .collect()
    )

    by_bucket = defaultdict(list)
    for r in rows:
        by_bucket[r[:2]].append(r)
    want = sorted(
        r
        for rs in by_bucket.values()
        for r in (rs if len(rs) <= cap else [min(rs, key=lambda r: r[2])])
    )
    assert got == want
    # "10" < "2" < "9" as strings: the over-cap witnesses are string mins
    assert [r[2] for r in got if r[:2] == (1, 7)] == ["10"]
    assert [r[2] for r in got if r[:2] == (1, 8)] == ["100"]
    assert sorted(r[2] for r in got if r[:2] == (0, 8)) == ["10", "2", "9"]
