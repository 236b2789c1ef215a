"""Recall/equality gates pinning every rows-only driver query to its exact
counterpart (VERDICT r1 item 2: the LSH/sketch hashes are not
SQL-expressible, but recall-vs-the-exact-variant is testable):

- ``simhash_near_pairs``       == brute-force Hamming<=3 pairs (EXACT:
  the 4x16-bit pigeonhole banding guarantees recall 1.0 at threshold 3,
  and the post-band Hamming verify guarantees precision 1.0)
- ``near_dup_text_pairs``      == shingle-Jaccard>=threshold pairs (the
  LSH candidates + exact verify reproduce the exact definition)
- ``minhash_candidates``       ⊇ true shingle-Jaccard>=threshold pairs
  (candidate recall 1.0 — banding may add false candidates, never lose
  a true pair at the tuned threshold)
- ``lsh_topk`` / ``ivf_topk``  recall >= 0.9 vs ``brute_force_topk`` on
  a planted clustered corpus (the driver testdata embeddings are random
  noise, where bucketed ANN is information-theoretically blind — same
  rationale as tests/test_similarity.py)
- ``embedding_near_pairs_lsh`` recall >= 0.9 vs ``embedding_dup_pairs``
  on the clustered corpus, plus the subset (precision-1.0) property on
  the real testdata: the exact-cosine verify step can never emit a pair
  the exact operator would not.

The text-side gates run against the driver's own sf0.001 documents table,
so they exercise exactly what CORRECTNESS_r*.json runs rows-only.
"""

from __future__ import annotations

from itertools import combinations

import pytest

from ordinarydumpdeduplicator_spark.functions.text import jaccard, shingles, tokens
from ordinarydumpdeduplicator_spark.operators.features import simhash64
from ordinarydumpdeduplicator_spark.operators.similarity import (
    brute_force_topk,
    embedding_dup_pairs,
    embedding_near_pairs_lsh,
    ivf_topk,
    lsh_topk,
)
from ordinarydumpdeduplicator_spark.operators.text_dedup import (
    minhash_candidate_pairs,
    near_dup_text_pairs,
    simhash_near_pairs,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()
    df.count()
    yield df
    # cache substitution would otherwise replace later full-table scans
    # (e.g. test_plans' pruning audits) with this full-schema cached plan
    df.unpersist()


@pytest.fixture(scope="module")
def doc_rows(docs):
    return docs.select("doc_id", "text").collect()


def _pairs(rows, a="doc_id_a", b="doc_id_b"):
    return {
        (min(int(r[a]), int(r[b])), max(int(r[a]), int(r[b]))) for r in rows
    }


# ------------------------------------------------------------------- text side


def test_simhash_pairs_equal_bruteforce_hamming(docs, doc_rows):
    sh = {r.doc_id: simhash64(tokens(r.text)) for r in doc_rows if r.text}

    def ham(a: int, b: int) -> int:
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    oracle = {
        (min(a, b), max(a, b))
        for a, b in combinations(sh, 2)
        if ham(sh[a], sh[b]) <= 3
    }
    got = _pairs(simhash_near_pairs(docs).collect())
    assert got == oracle  # pigeonhole recall + Hamming verify precision
    assert len(oracle) > 0  # the corpus actually contains near pairs


@pytest.fixture(scope="module")
def true_jaccard_pairs(doc_rows):
    sg = {r.doc_id: shingles(r.text) for r in doc_rows if r.text}
    return {
        (min(a, b), max(a, b))
        for a, b in combinations(sg, 2)
        if sg[a] and sg[b] and jaccard(sg[a], sg[b]) >= 0.5
    }


def test_near_dup_pairs_equal_exact_shingle_jaccard(docs, true_jaccard_pairs):
    got = _pairs(near_dup_text_pairs(docs).collect())
    assert len(true_jaccard_pairs) > 0
    # LSH candidates + exact verify reproduce the exact definition:
    # every true pair found (recall 1.0), nothing extra (precision 1.0)
    assert got == true_jaccard_pairs


def test_minhash_candidates_cover_all_true_pairs(docs, true_jaccard_pairs):
    cand = _pairs(minhash_candidate_pairs(docs).collect(), "src", "dst")
    assert true_jaccard_pairs <= cand


# -------------------------------------------------------------- embedding side


def test_lsh_topk_recall_vs_exact(spark):
    """Gate lsh_topk AT ITS DRIVER DEFAULTS (8 bands x 8 bits) in its
    design regime — near-duplicate neighbors (cosine >= ~0.9). Mid-
    similarity generic ANN is the IVF operator's job (gated separately at
    >= 0.95 on the looser fixture): 8-bit bands trade mid-regime recall
    for corpus/256 bucket granularity, the only shape whose candidate
    join stays bounded at 10^5+ rows."""
    import numpy as np

    from tests.test_similarity import EMB_SCHEMA

    rng = np.random.default_rng(23)
    centers = rng.standard_normal((30, 32))
    centers /= np.linalg.norm(centers, axis=1)[:, None]
    rows = []
    for i in range(600):
        v = centers[i % 30] + 0.05 * rng.standard_normal(32)
        v /= np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, schema=EMB_SCHEMA).cache()
    exact = {
        (r.vec_id, r.neighbor_id) for r in brute_force_topk(df, k=3).collect()
    }
    got = {
        (r.vec_id, r.neighbor_id) for r in lsh_topk(df, dim=32, k=3).collect()
    }
    recall = len(got & exact) / len(exact)
    assert recall >= 0.95, f"lsh_topk recall@3 = {recall:.3f}"


def test_ivf_recall_on_partition_correlated_layout(spark):
    """The k-means training sample must be pseudo-random, not first-N: lay
    the corpus out so the first partitions contain only a few clusters (the
    worst case for a limit()-based sample) and require full recall anyway."""
    from tests.test_similarity import EMB_SCHEMA, _clustered_corpus

    vecs, labels = _clustered_corpus()
    order = labels.argsort(kind="stable")  # cluster-sorted layout
    rows = [
        (int(i), [float(x) for x in vecs[i]]) for i in order
    ]
    df = (
        spark.createDataFrame(rows, schema=EMB_SCHEMA)
        .coalesce(1)
        .repartitionByRange(8, "vec_id")  # partition boundaries = clusters
        .cache()
    )
    df.count()
    exact = {
        r.vec_id: r.neighbor_id
        for r in brute_force_topk(df, k=1).collect()
    }
    got = {}
    for r in ivf_topk(df, k=1, n_cells=32, n_probe=4).collect():
        got[r.vec_id] = r.neighbor_id
    hits = sum(1 for q, n in exact.items() if got.get(q) == n)
    recall = hits / len(exact)
    assert recall >= 0.9, f"IVF recall@1 on sorted layout = {recall:.3f}"


def test_ivf_pq_recall_vs_exact(spark):
    """IVF-PQ (compact-code candidate scan + exact re-rank) holds recall
    on a clustered corpus: the ADC shortlist may misorder near-ties, but
    the k*refine exact re-rank recovers them."""
    import numpy as np

    from ordinarydumpdeduplicator_spark.operators.similarity import (
        ivf_pq_topk,
    )
    from tests.test_similarity import EMB_SCHEMA

    rng = np.random.default_rng(31)
    centers = rng.standard_normal((30, 32))
    centers /= np.linalg.norm(centers, axis=1)[:, None]
    rows = []
    for i in range(600):
        v = centers[i % 30] + 0.05 * rng.standard_normal(32)
        v /= np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, schema=EMB_SCHEMA).cache()
    exact = {
        (r.vec_id, r.neighbor_id) for r in brute_force_topk(df, k=3).collect()
    }
    got_rows = ivf_pq_topk(
        df, k=3, n_cells=32, n_probe=4, m_subspaces=8
    ).collect()
    got = {(r.vec_id, r.neighbor_id) for r in got_rows}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.9, f"ivf_pq recall@3 = {recall:.3f}"
    # returned cosine is the EXACT cosine (re-ranked), not the ADC score
    by_pair = {(r.vec_id, r.neighbor_id): r.cosine for r in got_rows}
    vecs = {r.vec_id: np.asarray(r.embedding) for r in df.collect()}
    for (q, n), c in list(by_pair.items())[:20]:
        a, b = vecs[q], vecs[n]
        true_c = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        # 1e-6: JVM HOF fold vs numpy dot differ only in summation order
        assert abs(true_c - c) < 1e-6


def test_embedding_lsh_pairs_recall_and_precision(spark):
    import numpy as np

    from tests.test_similarity import EMB_SCHEMA

    # tight clusters (noise 0.05): within-cluster cosine ~0.93, between ~0
    rng = np.random.default_rng(23)
    centers = rng.standard_normal((40, 32))
    centers /= np.linalg.norm(centers, axis=1)[:, None]
    rows = []
    for i in range(400):
        v = centers[i % 40] + 0.05 * rng.standard_normal(32)
        v /= np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, schema=EMB_SCHEMA).cache()
    thr = 0.8
    exact = {
        (r.vec_id_a, r.vec_id_b)
        for r in embedding_dup_pairs(df, threshold=thr).collect()
    }
    got = {
        (r.vec_id_a, r.vec_id_b)
        for r in embedding_near_pairs_lsh(df, dim=32, threshold=thr).collect()
    }
    assert len(exact) > 0
    assert got <= exact  # exact-cosine verify: no false positives, ever
    recall = len(got & exact) / len(exact)
    assert recall >= 0.9, f"embedding LSH pair recall = {recall:.3f}"


def test_embedding_lsh_subset_on_testdata(spark):
    """On the driver's own (random-noise) embeddings the LSH pair set must
    still be a strict subset of the exact pair set — precision 1.0 is
    layout-independent even where recall cannot be."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact = {
        (r.vec_id_a, r.vec_id_b)
        for r in embedding_dup_pairs(emb, threshold=0.4).collect()
    }
    # bands=16 mirrors the driver query's low-threshold banding
    got = {
        (r.vec_id_a, r.vec_id_b)
        for r in embedding_near_pairs_lsh(
            emb, dim=64, threshold=0.4, bands=16
        ).collect()
    }
    assert got <= exact
    assert len(got) >= int(0.9 * len(exact))  # measured 0.939 at sf0.001
