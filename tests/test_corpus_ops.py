"""Tests for the round-2 corpus operators: deterministic sampling,
sequence packing, token-frequency quality, bloom-assisted incremental
dedup."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ordinarydumpdeduplicator_spark.operators.bloom_dedup import (
    DEFAULT_K_HASHES,
    _positions,
    _probe_flags,
    bloom_merge,
    bloom_shards,
    incremental_new_docs,
)
from ordinarydumpdeduplicator_spark.operators.packing import pack_sequences
from ordinarydumpdeduplicator_spark.operators.sampling import (
    deterministic_sample,
    fraction_to_hex_threshold,
    stratified_sample,
)
from ordinarydumpdeduplicator_spark.operators.text_analysis import (
    token_freq_quality,
)
from tests.conftest import bloom_reference, reference_words


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, f"alpha beta {'gamma ' * (i % 4)}tok{i % 7}", ["en", "de"][i % 2],
         f"src{i % 3}")
        for i in range(400)
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).cache()


# ------------------------------------------------------------------ sampling


def test_hex_threshold_edges():
    assert fraction_to_hex_threshold(0.0) == "0" * 32
    assert fraction_to_hex_threshold(1.0) == "g"
    assert fraction_to_hex_threshold(0.5) == "8" + "0" * 31
    # monotone in fraction
    assert fraction_to_hex_threshold(0.25) < fraction_to_hex_threshold(0.75)


def test_deterministic_sample_stable_and_unbiased(docs):
    a = sorted(r.doc_id for r in deterministic_sample(docs, 0.5).collect())
    b = sorted(
        r.doc_id
        for r in deterministic_sample(docs.repartition(7), 0.5).collect()
    )
    assert a == b, "sample must not depend on partitioning"
    assert 120 <= len(a) <= 280  # ~200 of 400, very loose binomial bound
    # smaller fraction with the same salt is a SUBSET (nested samples)
    small = {r.doc_id for r in deterministic_sample(docs, 0.2).collect()}
    assert small <= set(a)
    # different salt re-draws
    other = {
        r.doc_id for r in deterministic_sample(docs, 0.5, salt="v2").collect()
    }
    assert other != set(a)


def test_stratified_rates(docs):
    kept = stratified_sample(docs, {"en": 1.0, "de": 0.0}).collect()
    assert {r.lang for r in kept} == {"en"}
    assert len(kept) == 200
    # default_rate applies to strata missing from the dict
    kept2 = stratified_sample(docs, {"en": 0.0}, default_rate=1.0).collect()
    assert {r.lang for r in kept2} == {"de"}


# ------------------------------------------------------------------- packing


def test_pack_sequences_hand_example(spark):
    rows = [
        (1, "a", "w x y z"),       # 4 toks: offsets 0-3, seq 0
        (2, "a", "p q r"),         # 3 toks: offsets 4-6, seq 0->1 (budget 5)
        (3, "a", ""),              # empty: offset 7, stays seq 1
        (4, "a", "m n o t u v w"), # 7 toks: offsets 7-13, seq 1->2
        (5, "b", "h i"),           # separate part restarts at offset 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        r.doc_id: r.asDict()
        for r in pack_sequences(df, budget=5).collect()
    }
    assert got[1]["start_offset"] == 0 and got[1]["seq_id"] == 0
    assert got[1]["end_seq_id"] == 0 and got[1]["n_seqs_spanned"] == 1
    assert got[2]["start_offset"] == 4 and got[2]["seq_id"] == 0
    assert got[2]["end_seq_id"] == 1 and got[2]["n_seqs_spanned"] == 2
    assert got[3]["n_tokens"] == 0 and got[3]["start_offset"] == 7
    assert got[3]["seq_id"] == 1 and got[3]["n_seqs_spanned"] == 1
    assert got[4]["start_offset"] == 7 and got[4]["end_seq_id"] == 2
    assert got[5]["start_offset"] == 0 and got[5]["seq_id"] == 0


def test_pack_sequences_total_tokens_consistent(docs):
    out = pack_sequences(docs, budget=16).collect()
    by_part: dict[str, list] = {}
    for r in out:
        by_part.setdefault(r.part, []).append(r)
    for part, rows in by_part.items():
        rows.sort(key=lambda r: r.doc_id)
        off = 0
        for r in rows:
            assert r.start_offset == off, (part, r)
            assert r.seq_id == off // 16
            off += r.n_tokens


# ------------------------------------------------------------------- quality


def test_token_freq_quality_hand_example(spark):
    rows = [
        (1, "the the the"),      # 'the' freq 4 corpus-wide
        (2, "the zzz"),          # zzz freq 1 -> rare
        (3, None),               # null text -> zero row
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.asDict() for r in token_freq_quality(df).collect()}
    assert got[1] == {
        "doc_id": 1, "n_tokens": 3, "sum_token_freq": 12,
        "n_rare_tokens": 0, "n_oov_tokens": 0,
    }
    assert got[2]["sum_token_freq"] == 4 + 1
    assert got[2]["n_rare_tokens"] == 1
    assert got[3]["n_tokens"] == 0 and got[3]["sum_token_freq"] == 0


def test_token_freq_quality_topk_truncation(spark):
    # vocab of 3 tokens, top_k=1 keeps only the most frequent ('a');
    # everything else is out-of-vocab -> freq 0, rare, oov
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a c")], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.asDict()
        for r in token_freq_quality(df, top_k=1).collect()
    }
    assert got[1]["sum_token_freq"] == 3 + 3 + 0
    assert got[1]["n_oov_tokens"] == 1
    assert got[2]["n_oov_tokens"] == 1 and got[2]["n_rare_tokens"] == 1


# --------------------------------------------------------------------- bloom


@pytest.fixture(scope="module")
def keyed(spark):
    """History/batch with real overlap: 60 of 100 batch keys are dups."""
    hist = spark.createDataFrame(
        [(i, f"sha{i}") for i in range(500)], "doc_id long, content_sha string"
    )
    batch = spark.createDataFrame(
        [(1000 + i, f"sha{i if i < 60 else 10_000 + i}") for i in range(100)],
        "doc_id long, content_sha string",
    )
    return hist.cache(), batch.cache()


def test_bloom_no_false_negatives(spark, keyed):
    hist, batch = keyed
    blooms = bloom_shards(hist.select("content_sha"), "content_sha",
                          n_shards=8, bits_per_shard=1 << 12)
    flagged = _probe_flags(batch, blooms, "content_sha", 8, 1 << 12,
                           DEFAULT_K_HASHES)
    hits = {r.content_sha for r in
            flagged.filter("might_contain").collect()}
    true_dups = {f"sha{i}" for i in range(60)}
    assert true_dups <= hits, "bloom must never miss a present key"


def test_incremental_new_docs_exact_vs_antijoin(spark, keyed):
    hist, batch = keyed
    got = sorted(
        r.doc_id
        for r in incremental_new_docs(
            hist, batch, "content_sha", n_shards=8, bits_per_shard=1 << 12
        ).collect()
    )
    want = sorted(
        r.doc_id
        for r in batch.join(
            hist.select("content_sha"), "content_sha", "left_anti"
        ).collect()
    )
    assert got == want == sorted(1000 + i for i in range(60, 100))


def test_bloom_fpp_is_small(spark):
    """Tight-enough bitmap: ~1% of certainly-absent keys flag as hits,
    i.e. the verify join's probe side is the sliver the docstring
    promises (here: <10% at 10 bits/key, seed-free deterministic)."""
    spark_hist = spark.createDataFrame(
        [(f"h{i}",) for i in range(2000)], "content_sha string"
    )
    probe_only = spark.createDataFrame(
        [(i, f"absent{i}") for i in range(2000)],
        "doc_id long, content_sha string",
    )
    blooms = bloom_shards(spark_hist, "content_sha",
                          n_shards=8, bits_per_shard=1 << 12)  # ~16 bits/key
    flagged = _probe_flags(probe_only, blooms, "content_sha", 8, 1 << 12,
                           DEFAULT_K_HASHES)
    n_hits = flagged.filter("might_contain").count()
    assert n_hits < 200, f"fpp too high: {n_hits}/2000"


def test_bloom_invalid_params_raise(spark, keyed):
    hist, _ = keyed
    with pytest.raises(ValueError, match="power of two"):
        bloom_shards(hist.select("content_sha"), "content_sha",
                     bits_per_shard=1001)
    with pytest.raises(ValueError, match="n_shards"):
        bloom_shards(hist.select("content_sha"), "content_sha", n_shards=0)


@pytest.mark.parametrize("params", [(8, 1 << 12, 7), (32, 1 << 14, 7),
                                    (32, 1 << 20, 7)],
                         ids=["8x2^12", "32x2^14", "32x2^20"])
def test_sql_bloom_matches_hashlib_reference(spark, params):
    """The SQL bloom follows its spec bit for bit: each key's shard and
    k positions, the build's word rows and the probe's might_contain
    equal a hashlib reference, over random keys, a non-ASCII key, the
    empty string and a NULL key (which sets no bit and probes as a
    miss). The probed snapshot is the merge of two builds that share
    (shard, word) rows, which must test as their union."""
    import random

    rng = random.Random(11)
    keys = [f"k{rng.getrandbits(48):x}" for _ in range(200)]
    keys += ["", "ключ-鍵-ü"]
    frame = lambda ks: spark.createDataFrame([(k,) for k in ks], "k string")
    everything = frame(keys + [None])

    got = {}
    for r in _positions(everything, "k", *params).collect():
        shard, positions = got.setdefault(r.k, (r.shard, []))
        assert r.shard == shard
        positions.append(None if r.k is None else r.word * 64 + r.bit)
    assert got.pop(None) == (None, [None] * params[2])
    assert {k: (s, sorted(p)) for k, (s, p) in got.items()} == {
        k: (s, sorted(p))
        for k, (s, p) in ((k, bloom_reference(k, *params)) for k in keys)
    }

    history = keys[:60] + ["", "ключ-鍵-ü"]
    a = bloom_shards(frame(history[:40]), "k", *params)
    b = bloom_shards(frame(history[40:]), "k", *params)
    assert {(r.shard, r.word): r.bits
            for r in bloom_shards(frame(history + [None]), "k", *params)
            .collect()} == reference_words(history, params)
    if params == (8, 1 << 12, 7):
        shared = {(r.shard, r.word) for r in a.collect()} & {
            (r.shard, r.word) for r in b.collect()}
        assert shared  # the merge below ORs two rows for these words
    words = reference_words(history, params)

    def ref_contains(key):
        if key is None:
            return False
        shard, positions = bloom_reference(key, *params)
        return all(words.get((shard, p >> 6), 0) >> (p & 63) & 1
                   for p in positions)

    flags = {r.k: r.might_contain for r in _probe_flags(
        everything, bloom_merge(a, b), "k", *params).collect()}
    assert flags == {k: ref_contains(k) for k in keys + [None]}
    assert all(flags[k] for k in history)


def test_bloom_empty_history(spark, keyed):
    _, batch = keyed
    empty = batch.filter("doc_id < 0")
    out = incremental_new_docs(empty, batch, "content_sha",
                               n_shards=8, bits_per_shard=1 << 12)
    assert out.count() == batch.count()


def test_pack_sequences_null_text(spark):
    """NULL text follows the zero-token convention — no NULL coordinates
    leak to the trainer-side writer."""
    rows = [(1, "a", "w x"), (2, "a", None), (3, "a", "y")]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r.doc_id: r.asDict() for r in pack_sequences(df, budget=2).collect()}
    assert got[2] == {
        "doc_id": 2, "part": "a", "n_tokens": 0, "start_offset": 2,
        "seq_id": 1, "end_seq_id": 1, "n_seqs_spanned": 1,
    }
    assert got[3]["start_offset"] == 2 and got[3]["n_tokens"] == 1


def test_bloom_merge_is_union(spark):
    """OR-merged delta index answers membership exactly like a from-
    scratch build over the union of keys (bloom union == bitwise OR)."""
    a = spark.createDataFrame([(f"a{i}",) for i in range(300)], "k string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(300)], "k string")
    both = a.unionByName(b)
    merged = bloom_merge(
        bloom_shards(a, "k", n_shards=4, bits_per_shard=1 << 12),
        bloom_shards(b, "k", n_shards=4, bits_per_shard=1 << 12),
    )
    scratch = bloom_shards(both, "k", n_shards=4, bits_per_shard=1 << 12)
    m = {(r.shard, r.word): r.bits for r in merged.collect()}
    s = {(r.shard, r.word): r.bits for r in scratch.collect()}
    assert m == s
    # mismatched geometry is rejected (raised in the merge task, so it
    # surfaces as Spark's wrapped raise_error exception — still loud)
    with pytest.raises(Exception, match="mismatched build parameters"):
        bloom_merge(
            bloom_shards(a, "k", n_shards=4, bits_per_shard=1 << 12),
            bloom_shards(b, "k", n_shards=4, bits_per_shard=1 << 13),
        ).collect()


# ------------------------------------------------------------- gopher filter


def test_gopher_quality_filter_rules(spark):
    from ordinarydumpdeduplicator_spark.operators.text_analysis import (
        gopher_quality_filter,
    )

    rows = [
        (1, "the " + " ".join(f"word{i}" for i in range(30))),  # clean -> keep
        (2, "the cat"),                                  # too_short
        (3, "the " + "spam ham " * 20),                  # repetition rules
        (4, "zz qq " * 15),                              # no_lang
        (5, "the " + " ".join("x" for _ in range(30))),  # tokens_too_short
        (6, None),                                       # NULL text
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.asDict() for r in gopher_quality_filter(df).collect()}
    assert got[1]["keep"] and got[1]["reasons"] == []
    assert not got[2]["keep"] and "too_short" in got[2]["reasons"]
    assert not got[3]["keep"]
    assert {"top_ngram", "dup_ngrams"} <= set(got[3]["reasons"])
    assert "no_lang" in got[4]["reasons"]
    assert "tokens_too_short" in got[5]["reasons"]
    # NULL text is the most degenerate doc: must NOT sail through
    assert not got[6]["keep"]
    assert {"too_short", "no_lang"} <= set(got[6]["reasons"])
    # reasons appear in fixed rule order (deterministic for the oracle)
    assert got[3]["reasons"] == sorted(
        got[3]["reasons"],
        key=["too_short", "too_long", "tokens_too_short",
             "tokens_too_long", "top_ngram", "dup_ngrams",
             "no_lang"].index,
    )


def test_gopher_filter_nontrivial_mix_on_testdata(spark):
    """The driver-query thresholds actually exercise both verdicts on the
    provided corpus (a filter that keeps or drops everything tests
    nothing)."""
    import __spark_entry__ as e

    out = e.queries()["gopher_filter"](spark, "/root/testdata/sf0.001")
    counts = {r.keep: r.c for r in
              out.groupBy("keep").agg(F.count("*").alias("c")).collect()}
    assert counts.get(True, 0) > 0 and counts.get(False, 0) > 0, counts


# ------------------------------------------------------------------- mixture


def test_mixture_sample_rebalances(spark):
    from ordinarydumpdeduplicator_spark.operators.sampling import (
        mixture_sample,
    )

    # heavily skewed corpus: 800 en, 150 de, 50 fr
    rows = (
        [(i, "en") for i in range(800)]
        + [(1000 + i, "de") for i in range(150)]
        + [(2000 + i, "fr") for i in range(50)]
        + [(3000 + i, "xx") for i in range(25)]  # outside the target mix
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string").cache()
    out = mixture_sample(df, {"en": 0.5, "de": 0.3, "fr": 0.2}).collect()
    by = {}
    for r in out:
        by[r.lang] = by.get(r.lang, 0) + 1
    total = sum(by.values())
    # fr is the binding stratum (50/0.2=250 smallest) -> kept whole
    assert by["fr"] == 50
    # proportions approach targets (hash sampling is binomial; loose)
    assert abs(by["en"] / total - 0.5) < 0.08
    assert abs(by["de"] / total - 0.3) < 0.08
    # deterministic under repartitioning
    out2 = mixture_sample(
        df.repartition(7), {"en": 0.5, "de": 0.3, "fr": 0.2}
    ).collect()
    assert sorted(r.doc_id for r in out2) == sorted(r.doc_id for r in out)
    # strata outside the target mix are dropped
    assert "xx" not in by
    with pytest.raises(ValueError, match="target shares"):
        mixture_sample(df, {"en": 0.0})


# ------------------------------------------------------------- DSIR weights


def _dsir_python_model(rows, target_langs, n_buckets=4096, salt="dsir"):
    """Pure-Python replica of dsir_importance_weights (hashlib md5)."""
    import hashlib
    import math
    from collections import Counter

    def ngrams(text):
        toks = [t for t in text.lower().split() if t]
        return toks + [
            f"{toks[i - 1]} {toks[i]}" for i in range(1, len(toks))
        ]

    def bucket(g):
        h = hashlib.md5(f"{salt}:{g}".encode()).hexdigest()
        return int(h[:15], 16) % n_buckets

    per_doc: dict[int, Counter] = {}
    q: Counter = Counter()
    p: Counter = Counter()
    for doc_id, text, lang in rows:
        if text is None:
            continue
        c = Counter(bucket(g) for g in ngrams(text))
        per_doc[doc_id] = c
        q.update(c)
        if lang in target_langs:
            p.update(c)
    qtot, ptot = sum(q.values()), sum(p.values())
    out = {}
    for doc_id, c in per_doc.items():
        w = sum(
            n
            * (
                math.log((p.get(b, 0) + 1.0) / (ptot + n_buckets))
                - math.log((q[b] + 1.0) / (qtot + n_buckets))
            )
            for b, n in c.items()
        )
        n_ng = sum(c.values())
        out[doc_id] = (n_ng, round(w, 4), round(w / n_ng, 6) if n_ng else 0.0)
    return out


def test_dsir_weights_match_python_model(spark):
    from ordinarydumpdeduplicator_spark.operators.sampling import (
        dsir_importance_weights,
    )

    wiki = "the quick brown fox jumps over the lazy dog near the river bank"
    crawl = "click here buy now cheap deals free shipping limited offer sale"
    rows = [
        (i, " ".join(wiki.split()[i % 3 :]) + f" extra{i % 5}", "en")
        for i in range(30)
    ] + [
        (100 + i, " ".join(crawl.split()[i % 4 :]) + f" spam{i % 3}", "de")
        for i in range(30)
    ] + [
        (200, None, "en"),  # null text -> zero row
        (201, "", "en"),  # empty text -> zero n-grams
        (202, "solo", "de"),  # single token -> no bigrams
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).withColumn("source", F.lit("s"))
    res = {
        r.doc_id: (r.n_ngrams, r.dsir_logweight, r.dsir_score)
        for r in dsir_importance_weights(
            df, target=F.col("lang") == "en"
        ).collect()
    }
    model = _dsir_python_model(
        [(i, t, l) for i, t, l in rows], target_langs={"en"}
    )
    assert len(res) == len(rows)
    for doc_id, (n_ng, w, s) in model.items():
        got = res[doc_id]
        assert got[0] == n_ng, (doc_id, got, (n_ng, w, s))
        assert got[1] == pytest.approx(w, abs=2e-4), (doc_id, got, w)
        assert got[2] == pytest.approx(s, abs=2e-6), (doc_id, got, s)
    # null-text and empty-text docs: zero n-grams, zero weight
    for zero_id in (200, 201):
        assert res[zero_id] == (0, 0.0, 0.0)
    # single-token doc has exactly one unigram and no bigram
    assert res[202][0] == 1


def test_dsir_weights_separate_target_from_crawl(spark):
    from ordinarydumpdeduplicator_spark.operators.sampling import (
        dsir_importance_weights,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = (
        dsir_importance_weights(docs, target=F.col("lang") == "en")
        .groupBy(F.col("lang") == "en")
        .agg(F.avg("dsir_score").alias("mean_score"))
        .collect()
    )
    by = {r[0]: r.mean_score for r in out}
    # target-language docs must look more target-like on average
    assert by[True] > by[False] + 0.01, by
